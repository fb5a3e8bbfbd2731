"""The workloads: what one pass runs, how it is verified, and which
layer measurements a traced run adds.

A pass is one closed-loop sweep of the workload's operations, one after
another on one client thread. Every operation is verified inside the pass;
an operation that raises or fails verification is recorded in
``PassResult.failures`` and the pass goes on with the next one.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import tarfile
import time
from dataclasses import dataclass, field

import pandas as pd

from perfbench.datagen import Sizes
from perfbench.probes import StatusStore


@dataclass
class Context:
    """Per-run state every workload reads."""

    spark: object
    data_dir: str
    work_dir: str
    store: StatusStore
    #: set by the self-test: corrupt one verified result on purpose
    corrupt: bool = False


@dataclass
class PassResult:
    wall_s: float
    ops_s: dict[str, float]
    steal_frac: float = 0.0
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    #: per-pass Spark counters and per-layer numbers of a traced pass (the
    #: cold query pass records its untimed oracle-check seconds here too)
    spark: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)


def spark_layer(delta: dict[str, int], wall_s: float) -> dict[str, float]:
    task_s = delta["task_ms"] / 1000
    return {
        "jobs": delta["jobs"],
        "stages": delta["stages"],
        "tasks": delta["tasks"],
        "task_s": task_s,
        "effective_cores": task_s / wall_s if wall_s > 0 else 0.0,
        "shuffle_write_bytes": delta["shuffle_write_bytes"],
        "spill_bytes": delta["disk_spill_bytes"] + delta["memory_spill_bytes"],
        "failed_tasks": delta["failed_tasks"],
    }


# ------------------------------------------------------------ query workloads


def fingerprint(df) -> tuple[int, int, int]:
    """Order-insensitive multiset digest computed in Spark: row count and
    two 32-bit halves of the summed per-row xxhash64 (two sums, so no
    64-bit overflow under ANSI arithmetic). Nothing is collected but the
    one result row."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]).alias("h")
    row = (
        df.select(h)
        .agg(
            F.count(F.lit(1)),
            F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))),
            F.sum(F.shiftrightunsigned("h", 32)),
        )
        .first()
    )
    return tuple(int(v or 0) for v in row)


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        col = pdf[c]
        if isinstance(col.dtype, pd.DatetimeTZDtype):
            pdf[c] = col.dt.tz_convert("UTC").dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_datetime64_any_dtype(col):
            pdf[c] = col.astype("datetime64[us]")
        elif col.dtype == object:
            pdf[c] = col.map(lambda v: repr(list(v)) if hasattr(v, "__len__")
                             and not isinstance(v, (str, bytes)) else v)
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)


def oracle_mismatch(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """Exact, order-insensitive comparison (floats included: the engine's
    results are bit-identical to DuckDB's by contract)."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows {len(spark_pdf)} != {len(oracle_pdf)}"
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]) != pd.api.types.is_float_dtype(b[c]):
            return f"{c}: dtype {a[c].dtype} != {b[c].dtype}"
        eq = (a[c] == b[c]) | (a[c].isna() & b[c].isna())
        if not bool(eq.all()):
            i = int((~eq).to_numpy().argmax())
            return f"{c}: row {i}: {a[c].iloc[i]!r} != {b[c].iloc[i]!r}"
    return None


class QueryWorkload:
    """Registered queries run one after another over one generated
    directory, each verified against its DuckDB oracle once per seed and
    by fingerprint on every timed pass."""

    #: pipeline-only layer numbers; the queries write nothing
    out: dict[str, float] = {}

    def __init__(self, queries: tuple[str, ...], sizes: Sizes):
        self.queries, self.sizes = queries, sizes
        self._ref: dict[str, tuple] = {}

    def input_rows(self, counts: dict[str, int]) -> int:
        return counts["documents"]

    def run_pass(self, ctx: Context, traced: bool, cold: bool = False) -> PassResult:
        """One sweep over the queries. The cold pass collects each result
        and checks it against the DuckDB oracle outside its timer; the
        Spark fingerprint of those checked rows is the reference every
        later pass's fingerprint must equal."""
        from video_data_pipeline_spark import calibrate
        from video_data_pipeline_spark.queries.registry import load_all

        registry = load_all()
        # pin the plan cache: every pass runs the calibrated queries'
        # pre-flights instead of reusing an earlier pass's decision
        calibrate.clear_plan_cache()
        oracle = self._oracle(ctx) if cold else None
        res = PassResult(wall_s=0.0, ops_s={})
        build_s = action_s = untimed_s = 0.0
        pass_mark = ctx.store.mark() if traced else None
        t_pass = time.perf_counter()
        for q in self.queries:
            mark = ctx.store.mark() if traced else None
            t0 = time.perf_counter()
            try:
                df = registry[q].spark_fn(ctx.spark, ctx.data_dir)
                t1 = time.perf_counter()
                got = df.toPandas() if cold else fingerprint(df)
                t2 = time.perf_counter()
                if cold:
                    problem = self._check(ctx, q, df, got, oracle.execute(registry[q].oracle).df())
                    untimed_s += time.perf_counter() - t2
                else:
                    if ctx.corrupt and q == self.queries[-1]:
                        got = (got[0] + 1, *got[1:])
                    problem = None if got == self._ref[q] else f"fingerprint {got} != {self._ref[q]}"
            except Exception as e:  # noqa: BLE001 — one query's error fails that query only
                t1 = t2 = time.perf_counter()
                problem = f"{type(e).__name__}: {e}"
            res.check(problem is None, f"{q}: {problem}")
            res.ops_s[q] = t2 - t0
            build_s, action_s = build_s + t1 - t0, action_s + t2 - t1
            if traced:
                sp = spark_layer(ctx.store.since(mark), t2 - t0)
                res.layers[f"spark.{q}.task_s"] = sp["task_s"]
                res.layers[f"spark.{q}.effective_cores"] = sp["effective_cores"]
        res.wall_s = time.perf_counter() - t_pass - untimed_s
        if oracle is not None:
            oracle.close()
            res.layers["oracle_check_s"] = untimed_s
        if traced:
            res.spark = spark_layer(ctx.store.since(pass_mark), res.wall_s)
            res.layers["queries.build_s"] = build_s
            res.layers["queries.action_s"] = action_s
        return res

    @staticmethod
    def _oracle(ctx: Context):
        import duckdb

        con = duckdb.connect()
        for f in sorted(os.listdir(ctx.data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(ctx.data_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        return con

    def _check(self, ctx: Context, q: str, df, got: pd.DataFrame,
               want: pd.DataFrame) -> str | None:
        if ctx.corrupt and q == self.queries[0]:
            got = got.iloc[1:]
        problem = oracle_mismatch(got, want)
        # fingerprint the rows just checked: later passes must equal it
        self._ref[q] = fingerprint(ctx.spark.createDataFrame(got, schema=df.schema))
        return None if problem is None else f"oracle: {problem}"

    def layer_probes(self, ctx: Context) -> dict[str, float]:
        """Traced-run layer calls made outside the passes."""
        from video_data_pipeline_spark import calibrate

        t0 = time.perf_counter()
        for name, cap, build in calibrate.standard_fronts(ctx.spark, ctx.data_dir):
            calibrate.measure_front(build(), cap, name)
        return {"calibrate.measure_front_s": time.perf_counter() - t0}


# ------------------------------------------------------------------ pipeline


def tar_digest(*dirs: str) -> str:
    """sha256 over the sorted (member name, payload) pairs of every tar in
    ``dirs``: equal for equal content whatever the shard file names."""
    pairs = []
    for d in dirs:
        for f in sorted(os.listdir(d)):
            if not f.endswith(".tar"):
                continue
            with tarfile.open(os.path.join(d, f)) as tf:
                for m in tf.getmembers():
                    payload = tf.extractfile(m).read()
                    pairs.append((m.name, hashlib.sha256(payload).hexdigest()))
    h = hashlib.sha256()
    for name, digest in sorted(pairs):
        h.update(f"{name}:{digest}\n".encode())
    return h.hexdigest()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(path) for f in fs
    )


class PipelineWorkload:
    """pack → tokenize (on the pack output) → index, the reference's ETL.
    Every pass writes to the same paths, so its tar bytes must repeat."""

    queries: tuple[str, ...] = ()

    def __init__(self, sizes: Sizes, samples_per_shard: int):
        self.sizes, self.per_shard = sizes, samples_per_shard
        self._digest: str | None = None
        self.out: dict[str, float] = {}

    def input_rows(self, counts: dict[str, int]) -> int:
        return counts["meta.jsonl"]

    def _paths(self, ctx: Context) -> dict[str, str]:
        return {k: os.path.join(ctx.work_dir, k) for k in ("pack", "tok", "idx")}

    def run_pass(self, ctx: Context, traced: bool, cold: bool = False) -> PassResult:
        import pyarrow.parquet as pq
        from video_data_pipeline_spark.plans.index import index_shards, sample_index, write_index
        from video_data_pipeline_spark.plans.pack import pack_dataset
        from video_data_pipeline_spark.plans.tokenize import TOKEN_BUDGET, tokenize_shards
        from video_data_pipeline_spark.sources.metadata import load_dataset

        p = self._paths(ctx)
        for d in p.values():
            shutil.rmtree(d, ignore_errors=True)
        meta_path = os.path.join(ctx.data_dir, "meta.jsonl")
        res = PassResult(wall_s=0.0, ops_s={})
        mark = ctx.store.mark() if traced else None
        t0 = time.perf_counter()
        try:
            meta = load_dataset(ctx.spark, "jsonl", meta_path)
            pack = pack_dataset(meta, p["pack"], samples_per_shard=self.per_shard,
                                hermetic=True).collect()
            t1 = time.perf_counter()
            tok = tokenize_shards(ctx.spark, p["pack"], p["tok"]).collect()
            t2 = time.perf_counter()
            index, violations, _golden = index_shards(ctx.spark, p["tok"])
            indexed = sum(r.nsamples for r in index.collect())
            n_bad = violations.count()
            write_index(sample_index(ctx.spark, p["tok"]), p["idx"])
            n_tokens = pq.read_table(p["idx"], columns=["n_tokens"])["n_tokens"].to_numpy()
            t3 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 — a failed stage fails the pass
            res.wall_s = time.perf_counter() - t0
            res.check(False, f"pipeline: {type(e).__name__}: {e}")
            return res
        res.wall_s = t3 - t0
        res.ops_s = {"pack": t1 - t0, "tokenize": t2 - t1, "index": t3 - t2}
        n_packed = sum(m.nsamples for m in pack)
        n_tok = sum(m.nsamples for m in tok)
        if ctx.corrupt:
            n_packed -= 1
        res.check(n_packed == self.sizes.records,
                  f"pack: {n_packed} samples != {self.sizes.records} records")
        res.check(n_tok > 0 and indexed == n_tok, f"index: {indexed} indexed != {n_tok} tokenized")
        res.check(n_tokens.max(initial=0) < TOKEN_BUDGET,
                  f"tokenize: sample of {n_tokens.max(initial=0)} tokens")
        res.check(n_bad == 0, f"index: {n_bad} violations")

        # outside timing: the written bytes must repeat across passes
        digest = tar_digest(p["pack"], p["tok"])
        if cold:
            self._digest = digest
        res.check(digest == self._digest, "tar digest differs from the first pass")
        tar_bytes = sum(m.nbytes for m in pack) + sum(m.nbytes for m in tok)
        self.out = {
            "sinks.tar_bytes": tar_bytes,
            "sinks.tar_shards": len(pack) + len(tok),
            "sinks.out_bytes_per_in_byte":
                (tar_bytes + dir_bytes(p["idx"])) / os.path.getsize(meta_path),
            "plans.tokenize.fill_ratio": int(n_tokens.sum()) / max(1, n_tok * TOKEN_BUDGET),
            "plans.index.violations": n_bad,
        }
        if traced:
            res.spark = spark_layer(ctx.store.since(mark), res.wall_s)
            res.layers = {
                "plans.pack_s": res.ops_s["pack"],
                "plans.tokenize_s": res.ops_s["tokenize"],
                "plans.index_s": res.ops_s["index"],
            }
        return res

    def layer_probes(self, ctx: Context) -> dict[str, float]:
        """Each layer's public functions called on their own, over the last
        pass's outputs; every probe consumes its result inside its timer."""
        from pyspark.sql import functions as F
        from video_data_pipeline_spark.functions.text import check_sample, tokenize_batch
        from video_data_pipeline_spark.operators.packing import greedy_bin_pack
        from video_data_pipeline_spark.plans.tokenize import TOKEN_BUDGET
        from video_data_pipeline_spark.sinks.webdataset import write_webdataset
        from video_data_pipeline_spark.sources.metadata import load_dataset
        from video_data_pipeline_spark.sources.webdataset import read_webdataset

        spark, p, out = ctx.spark, self._paths(ctx), {}

        t0 = time.perf_counter()
        load_dataset(spark, "jsonl", os.path.join(ctx.data_dir, "meta.jsonl")).count()
        out["sources.metadata_load_s"] = time.perf_counter() - t0

        mark = ctx.store.mark()
        t0 = time.perf_counter()
        members = read_webdataset(spark, p["pack"]).count()
        scan_s = time.perf_counter() - t0
        out["sources.tar_scan_s"] = scan_s
        out["sources.tar_scan_members_per_s"] = members / scan_s
        out["sources.tar_scan_tasks"] = ctx.store.since(mark)["tasks"]

        scanned = read_webdataset(spark, p["pack"]).cache()
        scanned.count()
        t0 = time.perf_counter()
        write_webdataset(scanned.select("__key__", "sample"),
                         os.path.join(ctx.work_dir, "rewrite"),
                         maxcount=self.per_shard).collect()
        out["sinks.tar_write_s"] = time.perf_counter() - t0

        docs = scanned.select(
            "__key__", "__url__", "__member_idx__",
            F.col("sample")["json"].cast("string").alias("text"),
        )
        batch = docs.toPandas()
        t0 = time.perf_counter()
        next(tokenize_batch(iter([batch])))
        out["functions.tokenize_batch_docs_per_s"] = len(batch) / (time.perf_counter() - t0)

        packed = read_webdataset(spark, p["tok"]).select(
            F.col("sample")["json"].cast("string").alias("j")).toPandas()
        import json

        recs = [json.loads(j) for j in packed["j"]]
        calls, t0 = 0, time.perf_counter()
        while calls == 0 or time.perf_counter() - t0 < 0.2:
            for r in recs:
                check_sample(r["input_ids"], r["loss_mask"], 0)
            calls += len(recs)
        out["functions.check_sample_per_s"] = calls / (time.perf_counter() - t0)

        schema = ("`__key__` string, `__url__` string, `__member_idx__` bigint, text string, "
                  "input_ids array<int>, loss_mask array<int>, n_tokens int")
        tokenized = docs.mapInPandas(tokenize_batch, schema=schema).cache()
        total = tokenized.count()
        t0 = time.perf_counter()
        kept = tokenized.transform(greedy_bin_pack(
            group_cols=["__url__"], order_col="__member_idx__", size_col="n_tokens",
            budget=TOKEN_BUDGET, drop_partial=True,
        )).count()
        out["operators.bin_pack_s"] = time.perf_counter() - t0
        out["plans.tokenize.dropped_frac"] = 1 - kept / total
        tokenized.unpersist()
        scanned.unpersist()
        return out


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0
