"""SparkSession factory tuned for this engine.

The reference hand-manages parallelism (64 joblib workers × 8 machines,
``/root/reference/pack/pack.py:293-298,315-318``); here the equivalent knobs
are Spark configs. Defaults target local[N] testing but are chosen to scale:
AQE handles runtime partition coalescing and skew joins, Arrow accelerates
every Pandas-UDF boundary, and shuffle partitions default to the core count
instead of Spark's legacy 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "video_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    query_warnings: bool | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Env overrides: ``SPARK_GRAFT_CPUS`` sets local core count and the default
    shuffle partition count.

    ``query_warnings=True`` (or ``SPARK_GRAFT_QUERY_WARNINGS=1``) attaches
    the session-level warning listener
    (:func:`video_data_pipeline_spark.telemetry.install_query_warnings`):
    every query on the session then warns when a hot-bucket cap BINDS
    (capped-subset result) or spill crosses the pathology threshold —
    the probe tools' early warnings, in production use. Opt-in because it
    needs py4j's callback server (one extra socket + daemon thread).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r16 perf: AQE's parallelism-first coalescing targets
        # total/defaultParallelism bytes per partition, but the stock
        # 1 MiB minPartitionSize floor overrides that whenever a shuffle
        # is byte-small — and this engine's text fronts are exactly that:
        # a few MB of documents whose per-row work (shingling, md5 per
        # shingle, array intersections) is thousands of CPU cycles per
        # byte. Measured at sf0.1: the stock floor coalesced those stages
        # to 1-5 partitions, serializing multi-second compute onto one
        # core (~1.0 effective cores, task-seconds / wall, on a 32-core
        # master; tools/scale_probe.py reports the column).
        # Value chosen by two same-tree env-flip ABBA A/Bs (tools/env_ab.py,
        # OPTIMIZATION_r16.md §aqe-floor): 64k freed the compute-dense
        # families (simjoin family 0.57× vs stock) but over-split the
        # byte-tiny shuffles of iterative/sketch queries (q_countmin_freq
        # 2.5×, q_segment_dedup 1.9×, q_pagerank 1.5× — 32 near-empty
        # tasks per stage, pure scheduling overhead); 256k kept the family
        # wins (their ~9-14 MB exchanges split to ~300-440 KB per
        # partition at parallelism 32, above this floor) while coalescing
        # the tiny shuffles again (countmin/segment/pagerank recovered,
        # 0.93× overall vs 64k). At production shuffle sizes partitions
        # sit far above either floor, so the setting only binds where the
        # stock floor was the bug. Env-overridable for cluster profiles.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "256k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # local mode: driver is the only JVM; give it headroom if available
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # Broadcast policy, two tiers: the STATIC threshold decides from
        # size ESTIMATES (compressed parquet bytes x column pruning), which
        # underestimate in-memory hash-relation size ~5-10x and GROW with
        # the data — at 100x bench scale a 15M-row fact slipped under 64 MB
        # and a 65 s broadcast build resulted. AQE cannot demote a static
        # broadcast, so keep the static tier conservative (true dimensions
        # only) and let AQE's runtime-accurate threshold promote anything
        # that's genuinely small once its real shuffle bytes are known.
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(64 * 1024 * 1024),
        )
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/vdps-warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if query_warnings is None:
        query_warnings = os.environ.get("SPARK_GRAFT_QUERY_WARNINGS", "") not in (
            "", "0", "false",
        )
    if query_warnings:
        from video_data_pipeline_spark.telemetry import install_query_warnings

        install_query_warnings(spark)
    return spark


_SHIPPED: set[int] = set()


def ensure_shipped(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    Closures sent to ``mapInPandas``/``applyInPandas`` reference module
    functions by name; workers unpickle them by importing the module —
    which fails whenever the driver's cwd isn't the repo root (cloudpickle
    pickles importable modules by reference). Zipping the package once per
    session and ``addPyFile``-ing it makes every UDF path location-
    independent — the same mechanism that ships the package to a real
    cluster's executors.
    """
    key = id(spark)
    if key in _SHIPPED:
        return
    import hashlib
    import tempfile
    import zipfile

    import video_data_pipeline_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    files = sorted(
        os.path.join(dp, f)
        for dp, _, fns in os.walk(pkg_dir)
        for f in fns
        if f.endswith(".py")
    )
    stamp = hashlib.md5(
        "".join(f"{p}:{os.path.getmtime(p)}" for p in files).encode()
    ).hexdigest()[:12]
    zip_path = os.path.join(tempfile.gettempdir(), f"vdps_pkg_{stamp}.zip")
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for p in files:
                zf.write(p, os.path.join("video_data_pipeline_spark", os.path.relpath(p, pkg_dir)))
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(key)


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Register the standard test tables as temp views; return dict of DataFrames."""
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for name in names:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def enable_runtime_bloom_filters(
    spark: SparkSession,
    creation_side_threshold: str = "10MB",
    application_side_threshold: str = "1MB",
) -> None:
    """Tune Spark's runtime bloom-filter join pruning for THIS deployment's
    table sizes.

    The optimizer injects a ``bloom_filter_agg`` on a join's small
    (creation) side and a ``might_contain`` filter on the big (application)
    side — rows that can't match are dropped BEFORE the shuffle, the big
    win for selective dim-filtered fact joins. It is on by default but
    dormant until the creation side is under
    ``runtime.bloomFilter.creationSideThreshold`` (default 10MB) AND the
    application-side scan exceeds its size threshold (default 10GB) — at
    true 100 TB scale the defaults engage on their own; at mid-size (or in
    a demo at sf0.1) nothing happens and a naive reader concludes the
    feature is broken. This helper sets both knobs explicitly so the
    pruning engages where the deployment's fact tables actually live.
    Plan-gated by ``test_runtime_bloom_filter_engages_on_selective_join``.
    """
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        creation_side_threshold,
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        application_side_threshold,
    )
