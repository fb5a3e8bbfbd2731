"""Text-analysis queries over the ``documents`` table.

Covers the reference's text/tokenization surface (SURVEY.md §2.11: special
token splicing, token counting, conversation assembly) plus the
training-data-pipeline extensions (language-ID, quality scoring, token
counting, fingerprinting) that a 100 TB curation run needs. Everything is
built-in column functions — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from video_data_pipeline_spark.queries.common import SPARK_HASH
from video_data_pipeline_spark.queries.registry import query, table

# ---------------------------------------------------------------- tokenize

_SPARK_TOKENS = "split(trim(text), ' +')"
_DUCK_TOKENS = "string_split_regex(trim(text), ' +')"


@query(
    "q_token_count",
    oracle=f"""
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len({_DUCK_TOKENS}) END AS n_tokens,
       n_chars
FROM documents
""",
    tags=("text", "tokenize"),
)
def q_token_count(spark, sf_dir):
    """Whitespace token counting — the unit of the 8k packing budget
    (tokenize/main.py:186). Pure string expression, codegen'd."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.when(F.length(F.trim("text")) == 0, F.lit(0))
        .otherwise(F.size(F.expr(_SPARK_TOKENS)))
        .alias("n_tokens"),
        "n_chars",
    )


@query(
    "q_hash_tokenize",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         list_transform({_DUCK_TOKENS},
                        w -> (('0x' || substr(md5(w), 1, 15))::BIGINT) % 32000) AS ids
  FROM documents
)
SELECT doc_id, len(ids) AS n_ids,
       CAST(list_aggregate(ids, 'sum') AS BIGINT) AS ids_sum,
       ids[1] AS first_id, ids[len(ids)] AS last_id
FROM toks
""",
    tags=("text", "tokenize"),
)
def q_hash_tokenize(spark, sf_dir):
    """Deterministic hash tokenizer: word → stable 60-bit md5 hash mod vocab.

    Stands in for the SentencePiece encode step (tokenize/tokenizer.py:
    651-673) with an engine-portable id assignment; the real SP model runs
    as a pandas_udf in plans/tokenize.py. Array built and aggregated fully
    JVM-side (transform + aggregate)."""
    d = table(spark, sf_dir, "documents")
    ids = F.expr(
        f"transform({_SPARK_TOKENS}, w -> {SPARK_HASH.format(x='w')} % 32000)"
    )
    # Materialize the id array ONCE per row, then project the four cheap
    # derivatives over the stored column. Building four independent Column
    # objects from `ids` re-evaluates the md5 transform per projection —
    # Spark does not CSE across select items, and CollapseProject keeps the
    # two-level projection because the producing expression is non-cheap
    # and multiply-referenced (VERDICT r3 #2: this was 4× the tokenize work).
    return (
        d.withColumn("__ids__", ids)
        .select(
            "doc_id",
            F.size("__ids__").alias("n_ids"),
            F.expr(
                "aggregate(__ids__, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("ids_sum"),
            F.element_at("__ids__", 1).alias("first_id"),
            F.element_at("__ids__", -1).alias("last_id"),
        )
    )


@query(
    "q_word_freq",
    oracle="""
SELECT word, COUNT(*) AS freq FROM (
  SELECT unnest(string_split_regex(trim(text), ' +')) AS word FROM documents
) GROUP BY word ORDER BY freq DESC, word LIMIT 20
""",
    tags=("text", "explode", "topk"),
)
def q_word_freq(spark, sf_dir):
    """Corpus word frequency: explode + count + deterministic top-k — the
    canonical UDTF-shaped flatMap (SURVEY.md §2.4 UDTF surface)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.expr(_SPARK_TOKENS)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "word")
        .limit(20)
    )


# ---------------------------------------------------------------- analysis

_STOPWORDS = ("the", "a", "of", "and", "to")


def _stop_count_spark() -> str:
    toks = _SPARK_TOKENS
    stoplist = ", ".join(f"'{w}'" for w in _STOPWORDS)
    return f"size(filter({toks}, w -> w IN ({stoplist})))"


def _stop_count_duck() -> str:
    stoplist = ", ".join(f"'{w}'" for w in _STOPWORDS)
    return f"len(list_filter({_DUCK_TOKENS}, w -> w IN ({stoplist})))"


@query(
    "q_quality_score",
    oracle=f"""
SELECT doc_id,
       len({_DUCK_TOKENS}) AS n_words,
       CAST(n_chars AS DOUBLE) / len({_DUCK_TOKENS}) AS avg_word_len,
       CAST({_stop_count_duck()} AS DOUBLE) / len({_DUCK_TOKENS}) AS stopword_ratio,
       CASE WHEN len({_DUCK_TOKENS}) BETWEEN 16 AND 1024
             AND CAST({_stop_count_duck()} AS DOUBLE) / len({_DUCK_TOKENS}) >= 0.01
            THEN 1 ELSE 0 END AS keep
FROM documents
""",
    tags=("text", "quality"),
)
def q_quality_score(spark, sf_dir):
    """Document quality scoring: length/word/stopword heuristics (the C4-style
    filter family) as pure column math; `keep` is the curation verdict."""
    d = table(spark, sf_dir, "documents")
    n_words = F.size(F.expr(_SPARK_TOKENS))
    stop_ratio = F.expr(_stop_count_spark()).cast("double") / n_words
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        (F.col("n_chars").cast("double") / n_words).alias("avg_word_len"),
        stop_ratio.alias("stopword_ratio"),
        F.when(n_words.between(16, 1024) & (stop_ratio >= 0.01), F.lit(1))
        .otherwise(F.lit(0))
        .alias("keep"),
    )


@query(
    "q_lang_id",
    oracle="""
WITH scores AS (
  SELECT doc_id, lang,
    (length(text) - length(replace(text, ' the ', ''))) / 5 AS s_en,
    (length(text) - length(replace(text, ' der ', ''))) / 5 AS s_de,
    (length(text) - length(replace(text, ' el ', ''))) / 4 AS s_es
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN s_en >= s_de AND s_en >= s_es THEN 'en'
            WHEN s_de >= s_es THEN 'de' ELSE 'es' END AS pred_lang
FROM scores
""",
    tags=("text", "langid"),
)
def q_lang_id(spark, sf_dir):
    """Marker-token language ID (n-gram heuristic): substring-count scoring
    via length arithmetic — the occurrence-count idiom of ``special_count``
    (tokenize/main.py:87-92) repurposed for language detection."""
    d = table(spark, sf_dir, "documents")

    def score(marker):
        return (F.length("text") - F.length(F.replace(F.col("text"), F.lit(marker)))) / len(
            marker
        )

    s_en, s_de, s_es = score(" the "), score(" der "), score(" el ")
    return d.select(
        "doc_id",
        "lang",
        F.when((s_en >= s_de) & (s_en >= s_es), "en")
        .when(s_de >= s_es, "de")
        .otherwise("es")
        .alias("pred_lang"),
    )


@query(
    "q_special_count",
    oracle="""
SELECT doc_id,
       CAST((length(text) - length(replace(text, 'table', ''))) / 5 AS BIGINT)
         AS n_special
FROM documents WHERE text LIKE '%table%'
""",
    tags=("text",),
)
def q_special_count(spark, sf_dir):
    """``special_count`` occurrence counting (tokenize/main.py:87-92):
    count(marker) = (len - len(remove(marker))) / len(marker)."""
    d = table(spark, sf_dir, "documents")
    n = (
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("table")))) / 5
    ).cast("bigint")
    return d.where(F.col("text").like("%table%")).select("doc_id", n.alias("n_special"))


@query(
    "q_add_image_token",
    oracle="""
SELECT doc_id,
       md5(replace(text, 'table', '<im_start>' || repeat('<im_patch>', 4) || '<im_end>'))
         AS expanded_md5,
       CAST((length(text) - length(replace(text, 'table', ''))) / 5 AS BIGINT) AS n_expanded
FROM documents
""",
    tags=("text",),
)
def q_add_image_token(spark, sf_dir):
    """``add_image_token`` splice (tokenize/main.py:94-112): replace each
    marker with <im_start> + n·<im_patch> + <im_end>; output fingerprinted
    to keep rows small."""
    d = table(spark, sf_dir, "documents")
    expansion = F.concat(
        F.lit("<im_start>"), F.repeat(F.lit("<im_patch>"), 4), F.lit("<im_end>")
    )
    return d.select(
        "doc_id",
        F.md5(F.replace(F.col("text"), F.lit("table"), expansion)).alias("expanded_md5"),
        ((F.length("text") - F.length(F.replace(F.col("text"), F.lit("table")))) / 5)
        .cast("bigint")
        .alias("n_expanded"),
    )


@query(
    "q_conversation_turns",
    oracle="""
SELECT doc_id, 0 AS turn_idx, 'human' AS who,
       'Describe document ' || CAST(doc_id AS VARCHAR) || ' from ' || source AS value
FROM documents
UNION ALL
SELECT doc_id, 1 AS turn_idx, 'gpt' AS who, substr(text, 1, 40) AS value
FROM documents
""",
    tags=("text", "struct", "explode"),
)
def q_conversation_turns(spark, sf_dir):
    """Conversation construction (pack/pack.py:28-57): build
    array<struct<from,value>> turn pairs, then posexplode back to rows —
    proving struct assembly and UDTF-style flattening round-trip."""
    d = table(spark, sf_dir, "documents")
    conv = F.array(
        F.struct(
            F.lit("human").alias("who"),
            F.concat(
                F.lit("Describe document "),
                F.col("doc_id").cast("string"),
                F.lit(" from "),
                F.col("source"),
            ).alias("value"),
        ),
        F.struct(F.lit("gpt").alias("who"), F.substring("text", 1, 40).alias("value")),
    )
    return d.select("doc_id", F.posexplode(conv).alias("turn_idx", "turn")).select(
        "doc_id",
        "turn_idx",
        F.col("turn.who").alias("who"),
        F.col("turn.value").alias("value"),
    )


@query(
    "q_fingerprint",
    oracle="""
SELECT doc_id, md5(lower(trim(text))) AS fingerprint,
       length(text) AS n_chars_exact
FROM documents
""",
    tags=("text", "dedup"),
)
def q_fingerprint(spark, sf_dir):
    """Content fingerprinting (normalize → md5) — the exact-dedup key and
    the analog of the reference's golden-dump checks (index/check_pair.py)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.lower(F.trim("text"))).alias("fingerprint"),
        F.length("text").alias("n_chars_exact"),
    )


@query(
    "q_blacklist_filter",
    oracle="""
SELECT doc_id, source FROM documents
WHERE NOT regexp_matches(lower(text), 'foobarbaz|\\.jpg|image unavailable')
""",
    tags=("text", "filter"),
)
def q_blacklist_filter(spark, sf_dir):
    """``black_words`` caption blacklist (pack/pack.py:19-22): drop junk
    captions by substring/regex match — a pushed-down NOT rlike filter."""
    d = table(spark, sf_dir, "documents")
    return d.where(
        ~F.lower(F.col("text")).rlike("foobarbaz|\\.jpg|image unavailable")
    ).select("doc_id", "source")


@query(
    "q_regex_markers",
    oracle="""
WITH marked AS (
  SELECT doc_id,
         '<image>#' || CAST(doc_id * 7 AS VARCHAR) || '# ' || substr(text, 1, 20) AS m
  FROM documents
)
SELECT doc_id, regexp_extract(m, '#([0-9]+)#', 1) AS marker,
       regexp_replace(m, '<image>#[0-9]+# ', '') AS stripped
FROM marked
""",
    tags=("text", "regex"),
)
def q_regex_markers(spark, sf_dir):
    """``merlin_s_qa_process`` marker parsing (pack/tools.py:339-378):
    regexp-extract the ``#t#`` timestamp markers and strip the question
    prefix — the reference's interleaved-QA regex surface."""
    d = table(spark, sf_dir, "documents")
    marked = d.select(
        "doc_id",
        F.concat(
            F.lit("<image>#"),
            (F.col("doc_id") * 7).cast("string"),
            F.lit("# "),
            F.substring("text", 1, 20),
        ).alias("m"),
    )
    return marked.select(
        "doc_id",
        F.regexp_extract("m", "#([0-9]+)#", 1).alias("marker"),
        F.regexp_replace("m", "<image>#[0-9]+# ", "").alias("stripped"),
    )


@query(
    "q_qa_zip_turns",
    oracle="""
WITH qa AS (
  SELECT doc_id,
         ['Q about ' || source, 'Q2 about ' || lang] AS questions,
         [substr(text, 1, 10), substr(text, 11, 10)] AS answers
  FROM documents
)
SELECT doc_id, i AS pair_idx, questions[i + 1] AS question, answers[i + 1] AS answer
FROM qa, (SELECT unnest(range(2)) AS i)
""",
    tags=("text", "zip"),
)
def q_qa_zip_turns(spark, sf_dir):
    """QA zip (pack/pack.py:136-148, pack/tools.py:368-378): zip parallel
    question/answer arrays into alternating turn rows via arrays_zip +
    posexplode."""
    d = table(spark, sf_dir, "documents")
    qa = d.select(
        "doc_id",
        F.array(
            F.concat(F.lit("Q about "), F.col("source")),
            F.concat(F.lit("Q2 about "), F.col("lang")),
        ).alias("questions"),
        F.array(
            F.substring("text", 1, 10), F.substring("text", 11, 10)
        ).alias("answers"),
    )
    zipped = qa.select(
        "doc_id", F.posexplode(F.arrays_zip("questions", "answers")).alias("pair_idx", "z")
    )
    return zipped.select(
        "doc_id",
        F.col("pair_idx").cast("bigint").alias("pair_idx"),
        F.col("z.questions").alias("question"),
        F.col("z.answers").alias("answer"),
    )


@query(
    "q_scalar_functions",
    oracle="""
SELECT doc_id,
       lpad(CAST(doc_id AS VARCHAR), 9, '0') AS key9,
       split_part('a/b/' || lang || '/' || source, '/', -1) AS last_seg,
       concat_ws('_', lang, source, CAST(n_chars AS VARCHAR)) AS joined,
       substr(upper(lang), 1, 1) || lower(source) AS mixed,
       greatest(n_chars, 100) AS floor100,
       least(n_chars, 400) AS cap400,
       round(n_chars / 7.0, 2) AS septile
FROM documents
""",
    tags=("text", "scalar"),
)
def q_scalar_functions(spark, sf_dir):
    """Scalar-function sampler covering SURVEY §2.12's observed surface:
    zero-padded key formatting (pack/pack.py:155 f"{idx:09d}" → lpad),
    path-segment extraction (dataset_loader.py:140 split → substring_index),
    concat_ws path joins, case functions, min/max clamps (pack/dataset.py:
    93-94 → greatest/least), scaled rounding."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.lpad(F.col("doc_id").cast("string"), 9, "0").alias("key9"),
        F.substring_index(
            F.concat(F.lit("a/b/"), F.col("lang"), F.lit("/"), F.col("source")), "/", -1
        ).alias("last_seg"),
        F.concat_ws("_", "lang", "source", F.col("n_chars").cast("string")).alias("joined"),
        F.concat(F.substring(F.upper("lang"), 1, 1), F.lower("source")).alias("mixed"),
        F.greatest(F.col("n_chars"), F.lit(100)).alias("floor100"),
        F.least(F.col("n_chars"), F.lit(400)).alias("cap400"),
        F.round(F.col("n_chars") / 7.0, 2).alias("septile"),
    )


@query(
    "q_get_question",
    oracle="""
WITH qa AS (
  SELECT doc_id,
         MAP(['q1', 'a', 'q2'],
             ['What is ' || source || '?', 'ANSWER', 'Why ' || lang || '?']) AS m
  FROM documents
)
SELECT doc_id,
       array_to_string(
         list_sort(list_transform(
           list_filter(map_entries(m), e -> e.key <> 'a'), e -> e.value)), ' ')
         AS question
FROM qa
""",
    tags=("text", "map"),
)
def q_get_question(spark, sf_dir):
    """``get_question`` (pack/pack.py:40-45): concatenate all non-'a'
    values of a QA dict — map_filter + map_values + concat, JVM-side."""
    d = table(spark, sf_dir, "documents")
    m = F.create_map(
        F.lit("q1"), F.concat(F.lit("What is "), F.col("source"), F.lit("?")),
        F.lit("a"), F.lit("ANSWER"),
        F.lit("q2"), F.concat(F.lit("Why "), F.col("lang"), F.lit("?")),
    )
    kept = F.map_filter(m, lambda k, v: k != "a")
    return d.select(
        "doc_id",
        F.array_join(F.array_sort(F.map_values(kept)), " ").alias("question"),
    )


@query(
    "q_tfidf_top_terms",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS term
  FROM documents WHERE doc_id % 25 = 0
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY 1, 2),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY 1),
ranked AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         ROW_NUMBER() OVER (PARTITION BY t.doc_id
                            ORDER BY t.tf DESC, d.df ASC, t.term) AS rk
  FROM tf t JOIN df d ON t.term = d.term
)
SELECT doc_id, term, tf, df, rk FROM ranked WHERE rk <= 3
""",
    tags=("text", "tfidf", "topk"),
)
def q_tfidf_top_terms(spark, sf_dir):
    """Per-document salient terms: TF-IDF-shaped ranking done entirely in
    integers (tf desc, document-frequency asc, term tie-break) — float IDF
    would be order-sensitive across engines; ordinal ranking is exact.
    Shape: explode → two aggregations → term-keyed shuffle join (document
    frequencies are vocabulary-sized — never force-broadcast) → window
    top-k."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") % 25 == 0)
    words = d.select("doc_id", F.explode(F.expr(_SPARK_TOKENS)).alias("term"))
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = words.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term")
    )
    return (
        tf.join(df_, "term")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "rk")
    )


#: fixed query-term set for BM25 ranking (present in the synthetic corpus
#: vocabulary); BM25 constants are the Robertson/Okapi defaults
_BM25_TERMS = ("spark", "join", "vector")
_BM25_MICRO = 1_000_000


def _duck_bm25_sql() -> str:
    # every fractional literal is CAST AS DOUBLE: DuckDB otherwise parses
    # 2.2 as DECIMAL(2,1) and computes that term exactly before converting,
    # while Spark runs the whole chain in IEEE doubles — a last-ulp
    # divergence that could flip a micro-unit ROUND at a .5 boundary
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
),
scal AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(len(t)) AS BIGINT) AS sum_dl FROM toks
),
words AS (
  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks
),
tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf FROM words
  WHERE term IN ({terms}) GROUP BY 1, 2, 3
),
dfreq AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1
),
idf AS (
  SELECT term,
         CAST(ROUND(ln((s.n_docs - df + CAST(0.5 AS DOUBLE))
              / (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
              * {_BM25_MICRO}) AS BIGINT) AS idf_micro
  FROM dfreq, scal s
),
scored AS (
  SELECT t.doc_id,
         CAST(ROUND(i.idf_micro * ((t.tf * CAST(2.2 AS DOUBLE)) /
              (t.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
               + CAST(0.75 AS DOUBLE) * ((t.dl * s.n_docs) / s.sum_dl)))))
              AS BIGINT) AS score_micro
  FROM tf t JOIN idf i ON t.term = i.term, scal s
)
SELECT doc_id, CAST(SUM(score_micro) AS BIGINT) AS bm25_micro
FROM scored GROUP BY doc_id
ORDER BY bm25_micro DESC, doc_id LIMIT 20
"""


@query("q_bm25", oracle=_duck_bm25_sql(), tags=("text", "ranking", "topk"))
def q_bm25(spark, sf_dir):
    """Okapi BM25 relevance ranking for a fixed query-term set (k1=1.2,
    b=0.75) — the retrieval scorer a curation pipeline uses to mine
    topic-targeted training data from a 100 TB corpus.

    Fixed-point discipline (stats.py pattern): ln() is evaluated ONLY on
    the |query|-row document-frequency table and rounded to 1e-6; the
    per-(doc, term) tf-saturation factor is a fixed-order chain of IEEE
    double ops on exact integers (tf, dl, N, Σdl) — deterministic across
    engines — and each term score is rounded to micro-units BIGINT before
    the per-doc fold, so the final sum is exact integer arithmetic.

    Scale shape: the explode is filtered to the query terms IMMEDIATELY,
    so the postings stream is |matching rows|, not corpus tokens; the idf
    table (|query| rows) and the two corpus scalars broadcast; the only
    data-sized shuffle is the (doc_id, term) tf groupBy; top-20 is a
    TakeOrdered tree-reduce, never a global sort."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.expr(_SPARK_TOKENS).alias("t"))
    scal = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("t")).alias("sum_dl"),
    )
    words = toks.select(
        "doc_id", F.size("t").alias("dl"), F.explode("t").alias("term")
    ).where(F.col("term").isin(*_BM25_TERMS))
    tf = words.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = dfreq.crossJoin(F.broadcast(scal)).select(
        "term",
        F.round(
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
            )
            * _BM25_MICRO
        )
        .cast("bigint")
        .alias("idf_micro"),
    )
    scored = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(scal))
        .select(
            "doc_id",
            F.round(
                F.col("idf_micro")
                * (
                    (F.col("tf") * 2.2)
                    / (
                        F.col("tf")
                        + 1.2
                        * (
                            0.25
                            + 0.75
                            * ((F.col("dl") * F.col("n_docs")) / F.col("sum_dl"))
                        )
                    )
                )
            )
            .cast("bigint")
            .alias("score_micro"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("score_micro").alias("bm25_micro"))
        .orderBy(F.col("bm25_micro").desc(), "doc_id")
        .limit(20)
    )


@query(
    "q_corpus_stats",
    oracle="""
SELECT lang, COUNT(*) AS n_docs,
       COUNT(DISTINCT source) AS n_sources,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM documents GROUP BY lang
""",
    tags=("text", "agg"),
)
def q_corpus_stats(spark, sf_dir):
    """Corpus profile per language — the summary a curation run reports
    before/after filtering (exact integer sums; one double division)."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "q_special_splice",
    oracle="""
WITH base AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), ' +')) END AS n_words,
         CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(list_aggregate(list_transform(
                     string_split_regex(trim(text), ' +'),
                     w -> 3 + (('0x' || substr(md5(w), 1, 15))::BIGINT) % 31997),
                   'sum') AS BIGINT) END AS words_sum
  FROM documents WHERE doc_id % 10 = 3
)
SELECT doc_id,
       CAST(n_words + 258 AS BIGINT) AS n_ids,
       CAST(1 AS BIGINT) AS n_start,
       CAST(256 AS BIGINT) AS n_patch,
       CAST(1 AS BIGINT) AS n_end,
       CAST(words_sum + 32001 + 256 * 32000 + 32002 AS BIGINT) AS ids_sum
FROM base
""",
    tags=("text", "tokenize", "special"),
)
def q_special_splice(spark, sf_dir):
    """The greedy earliest-special tokenize scan
    (tokenize/tokenizer.py:650-672) run END-TO-END: each doc gets an
    ``<image>`` marker expanded to <im_start>+256·<im_patch>+<im_end> in
    text form (tokenize/main.py:94-112), then the REAL
    ``tokenize_with_specials`` (Arrow-batched mapInPandas) splices special
    ids around hash-encoded words. The oracle derives the exact id counts
    and id-sum closed-form — the index/check_pair.py:37-40 invariants as a
    hard value check, not just rows."""
    import pandas as pd

    from video_data_pipeline_spark.functions.text import (
        IM_END,
        IM_PATCH,
        IM_START,
        expand_image_markers,
        tokenize_with_specials,
    )
    from video_data_pipeline_spark.session import ensure_shipped

    ensure_shipped(spark)
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 3).select(
        "doc_id", "text"
    )

    def _count_specials(it):
        for pdf in it:
            out_rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                ids = tokenize_with_specials(expand_image_markers("<image> " + (text or "")))
                out_rows.append(
                    (
                        doc_id,
                        len(ids),
                        sum(1 for i in ids if i == IM_START),
                        sum(1 for i in ids if i == IM_PATCH),
                        sum(1 for i in ids if i == IM_END),
                        sum(ids),
                    )
                )
            yield pd.DataFrame(
                out_rows,
                columns=["doc_id", "n_ids", "n_start", "n_patch", "n_end", "ids_sum"],
            )

    return d.mapInPandas(
        _count_specials,
        schema="doc_id bigint, n_ids bigint, n_start bigint, n_patch bigint, "
        "n_end bigint, ids_sum bigint",
    )


@query(
    "q_curation_pipeline",
    oracle=f"""
WITH quality AS (
  SELECT doc_id, lang, source, n_chars, text
  FROM documents
  WHERE len({_DUCK_TOKENS}) BETWEEN 16 AND 1024
    AND CAST({_stop_count_duck()} AS DOUBLE) / len({_DUCK_TOKENS}) >= 0.01
),
deduped AS (
  SELECT * FROM (
    SELECT q.*, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS dup_rk
    FROM quality q
  ) WHERE dup_rk = 1
),
quota AS (
  SELECT * FROM (
    SELECT d.*, ROW_NUMBER() OVER (
      PARTITION BY lang
      ORDER BY (('0x' || substr(md5('q' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT), doc_id
    ) AS qrk
    FROM deduped d
  ) WHERE qrk <= 120
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       COUNT(DISTINCT source) AS n_sources, MIN(doc_id) AS first_doc
FROM quota GROUP BY lang
""",
    tags=("text", "quality", "dedup", "pipeline"),
)
def q_curation_pipeline(spark, sf_dir):
    """The full curation pipeline as ONE lazy plan — quality filter (C4-style
    length/stopword heuristics) → exact dedup (min-doc_id survivor per text
    md5) → deterministic per-language quota (stable-hash ranked, 120/lang)
    → corpus summary. Each stage is the operator the standalone queries
    prove; composed, Catalyst pipelines the filter into the scan and the
    two window stages shuffle on md5(text) then lang — both uniform keys.
    This is the shape a 100 TB pretraining-data refresh runs nightly."""
    from video_data_pipeline_spark.queries.common import SPARK_HASH
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    n_words = F.size(F.expr(_SPARK_TOKENS))
    stop_ratio = F.expr(_stop_count_spark()).cast("double") / n_words
    quality = d.where(
        n_words.between(16, 1024) & (stop_ratio >= 0.01)
    ).select("doc_id", "lang", "source", "n_chars", "text")
    dup_w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        quality.withColumn("dup_rk", F.row_number().over(dup_w))
        .where(F.col("dup_rk") == 1)
        .drop("dup_rk")
    )
    rank_key = F.expr(SPARK_HASH.format(x="concat('q', CAST(doc_id AS STRING))"))
    quota_w = Window.partitionBy("lang").orderBy(rank_key, "doc_id")
    quota = (
        deduped.withColumn("qrk", F.row_number().over(quota_w))
        .where(F.col("qrk") <= 120)
    )
    return quota.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("source").alias("n_sources"),
        F.min("doc_id").alias("first_doc"),
    )


@query(
    "q_repetition_filter",
    oracle=f"""
WITH words AS (
  SELECT doc_id, {_DUCK_TOKENS} AS w FROM documents
),
bigrams AS (
  SELECT doc_id,
         unnest(list_transform(range(len(w) - 1), i -> w[i+1] || ' ' || w[i+2])) AS bg
  FROM words WHERE len(w) >= 2
),
top_bg AS (
  SELECT doc_id, MAX(cnt) AS top_bigram_count
  FROM (SELECT doc_id, bg, COUNT(*) AS cnt FROM bigrams GROUP BY doc_id, bg)
  GROUP BY doc_id
)
SELECT w.doc_id,
       len(w.w) AS n_words,
       1.0 - CAST(len(list_distinct(w.w)) AS DOUBLE) / len(w.w) AS dup_word_frac,
       CAST(COALESCE(t.top_bigram_count, 0) AS DOUBLE)
         / GREATEST(len(w.w) - 1, 1) AS top_bigram_frac,
       CASE WHEN 1.0 - CAST(len(list_distinct(w.w)) AS DOUBLE) / len(w.w) <= 0.60
             AND CAST(COALESCE(t.top_bigram_count, 0) AS DOUBLE)
                   / GREATEST(len(w.w) - 1, 1) <= 0.05
            THEN 1 ELSE 0 END AS keep
FROM words w LEFT JOIN top_bg t ON w.doc_id = t.doc_id
""",
    tags=("text", "quality", "dedup"),
)
def q_repetition_filter(spark, sf_dir):
    """Gopher-style within-document repetition filters (Rae et al. 2021,
    §A1.1 "repetitious text"): duplicate-word fraction and most-frequent-
    bigram fraction, with the curation verdict as ``keep`` (thresholds
    0.60 / 0.05, tuned to discriminate on the synthetic corpus — real
    deployments use Gopher's published cutoffs per metric).

    Plan shape for 100 TB: the distinct-word fraction is PER-ROW column
    math (``array_distinct`` — no shuffle); only the top-bigram count
    shuffles, keyed by (doc_id, bigram) then doc_id — both uniform
    (bigram keys are near-unique), so the aggregation is skew-free and
    map-side partials collapse the exploded rows before exchange."""
    d = table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.expr(_SPARK_TOKENS).alias("w"))
    n_words = F.size("w")
    bigrams = words.where(n_words >= 2).select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1]))")
        ).alias("bg"),
    )
    top_bg = (
        bigrams.groupBy("doc_id", "bg")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_bigram_count"))
    )
    dup_frac = 1.0 - F.size(F.array_distinct("w")).cast("double") / n_words
    top_frac = F.coalesce(F.col("top_bigram_count"), F.lit(0)).cast(
        "double"
    ) / F.greatest(n_words - 1, F.lit(1))
    return (
        words.join(top_bg, "doc_id", "left")
        .select(
            "doc_id",
            n_words.alias("n_words"),
            dup_frac.alias("dup_word_frac"),
            top_frac.alias("top_bigram_frac"),
            F.when((dup_frac <= 0.60) & (top_frac <= 0.05), F.lit(1))
            .otherwise(F.lit(0))
            .alias("keep"),
        )
    )


# winnowing parameters: k-word grams, window w, modulus M, base B
_WIN_K, _WIN_W, _WIN_M, _WIN_B = 4, 5, 2147483647, 131


def _winnow_sql(dialect: str) -> str:
    """Shared-arithmetic winnowing pipeline (Schleimer et al., SIGMOD'03
    'Winnowing: Local Algorithms for Document Fingerprinting' — the MOSS
    fingerprinting scheme). Rolling k-gram hash with per-step modular
    folding (intermediates bounded by M*B < 2^39, exact in int64), then
    the minimum of each w-window of k-gram hashes, deduplicated."""
    k, w, M, B = _WIN_K, _WIN_W, _WIN_M, _WIN_B
    if dialect == "spark":
        wh = f"transform(split(trim(text), ' +'), s -> {'CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)'} % {M})"
        fold = f"wh[i]"
        for j in range(1, k):
            fold = f"(({fold}) * {B} + wh[i+{j}]) % {M}"
        kg = f"transform(sequence(0, size(wh) - {k}), i -> {fold})"
        mins = f"transform(sequence(1, size(kg) - {w} + 1), i -> array_min(slice(kg, i, {w})))"
        return wh, kg, mins
    wh = f"list_transform(string_split_regex(trim(text), ' +'), s -> (('0x' || substr(md5(s), 1, 15))::BIGINT) % {M})"
    fold = "wh[i+1]"
    for j in range(1, k):
        fold = f"(({fold}) * {B} + wh[i+{j+1}]) % {M}"
    kg = f"list_transform(range(len(wh) - {k} + 1), i -> {fold})"
    mins = f"list_transform(range(len(kg) - {w} + 1), i -> list_min(kg[i+1:i+{w}]))"
    return wh, kg, mins


_DWH, _DKG, _DMINS = _winnow_sql("duck")


@query(
    "q_winnow_fingerprints",
    oracle=f"""
WITH wh_t AS (SELECT doc_id, {_DWH} AS wh FROM documents),
kg_t AS (SELECT doc_id, {_DKG} AS kg FROM wh_t WHERE len(wh) >= {_WIN_K}),
mins_t AS (SELECT doc_id, {_DMINS} AS mins FROM kg_t WHERE len(kg) >= {_WIN_W})
SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM mins_t
""",
    tags=("text", "dedup", "fingerprint"),
)
def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03): the
    rolling-hash fingerprint family the md5 ``q_fingerprint`` can't give —
    LOCAL fingerprints that survive partial edits, so two documents
    sharing any sufficiently long passage share fingerprints.

    Plan: entirely PER-ROW column math (word hash → modular-folded k-gram
    rolling hash → w-window minima → distinct), one explode at the end —
    no shuffle at all; at 100 TB the (fp, doc_id) output feeds the same
    bucketed-pair machinery as MinHash bands (group by fp = uniform
    hash key)."""
    swh, skg, smins = _winnow_sql("spark")
    d = table(spark, sf_dir, "documents")
    # One withColumn per stage, each GUARDED with IF(...) instead of a
    # where(): a Filter between the projections would be alias-substituted
    # by predicate pushdown, inlining the producing HOF into every
    # reference and re-running the md5 pass O(k*w) times per row (the
    # q_hash_tokenize lesson). As a column chain, each non-cheap
    # multiply-referenced stage is materialized once per row. The IF also
    # avoids sequence(0, n<0), which would generate a DESCENDING range.
    return (
        d.withColumn("wh", F.expr(swh))
        .withColumn(
            "kg",
            F.expr(f"IF(size(wh) >= {_WIN_K}, {skg}, CAST(array() AS ARRAY<BIGINT>))"),
        )
        .withColumn(
            "mins",
            F.expr(f"IF(size(kg) >= {_WIN_W}, {smins}, CAST(array() AS ARRAY<BIGINT>))"),
        )
        .select("doc_id", F.explode(F.array_distinct("mins")).alias("fp"))
    )


# ---------------------------------------------------------------- PII redaction

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+1-\d{3}-\d{4}"
_PII_IP = r"\b(\d{1,3}\.){3}\d{1,3}\b"

# deterministic PII injection: the synthetic corpus contains no PII, so both
# engines append identical fake contact strings derived from doc_id; the
# redaction kernel itself (the regexes + replacement order) is what's tested
_SPARK_PII_TEXT = (
    "concat(text, ' contact user', CAST(doc_id AS STRING), '@mail.example or ',"
    " '+1-555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'),"
    " ' from 10.', CAST(doc_id % 200 AS STRING), '.0.1')"
)
_DUCK_PII_TEXT = (
    "concat(text, ' contact user', CAST(doc_id AS VARCHAR), '@mail.example or ',"
    " '+1-555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),"
    " ' from 10.', CAST(doc_id % 200 AS VARCHAR), '.0.1')"
)


@query(
    "q_pii_redact",
    oracle=f"""
WITH t AS (SELECT doc_id, {_DUCK_PII_TEXT} AS txt FROM documents)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(txt,
         '{_PII_EMAIL}', '<EMAIL>', 'g'),
         '\\+1-\\d{{3}}-\\d{{4}}', '<PHONE>', 'g'),
         '{_PII_IP}', '<IP>', 'g') AS redacted,
       len(regexp_extract_all(txt, '{_PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(txt, '\\+1-\\d{{3}}-\\d{{4}}')) AS n_phones,
       len(regexp_extract_all(txt, '{_PII_IP}')) AS n_ips
FROM t
""",
    tags=("text", "curation", "pii"),
)
def q_pii_redact(spark, sf_dir):
    """PII redaction, the scrub step of corpus curation: replace emails,
    phone numbers, and IPv4 addresses with typed placeholder tokens and
    count what was removed (the audit metric a redaction job reports).
    Patterns are restricted to the Java-regex ∩ RE2 common subset (no
    lookaround), so Spark and the DuckDB oracle agree byte-for-byte.

    The synthetic corpus has no PII, so both engines first append
    identical fake contact strings derived from doc_id — the kernel under
    test is the redaction itself, on real scan input.

    Scale shape: pure per-row codegen'd string ops on the corpus scan —
    no shuffle, no UDF; counts are computed pre-redaction so the audit
    can't drift from the scrub."""
    d = table(spark, sf_dir, "documents")
    txt = d.select("doc_id", F.expr(_SPARK_PII_TEXT).alias("txt"))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("txt"), F.lit(_PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(_PII_PHONE),
            F.lit("<PHONE>"),
        ),
        F.lit(_PII_IP),
        F.lit("<IP>"),
    )
    return txt.select(
        "doc_id",
        red.alias("redacted"),
        F.size(F.regexp_extract_all("txt", F.lit(_PII_EMAIL), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("txt", F.lit(_PII_PHONE), F.lit(0))).alias("n_phones"),
        F.size(F.regexp_extract_all("txt", F.lit(_PII_IP), F.lit(0))).alias("n_ips"),
    )
