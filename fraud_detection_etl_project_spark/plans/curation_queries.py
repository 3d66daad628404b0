"""Training-data curation operators (north star): winnowing rolling-hash
fingerprints, deterministic train/test splits, embedding quantization, and
the composed curation filter. All JVM-side array/hash expressions — no
UDFs — with DuckDB oracles built from the same constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_etl_project_spark.functions import text as T
from fraud_detection_etl_project_spark.functions.rounding import fxr
from fraud_detection_etl_project_spark.plans.llm_queries import NORM_SQL, TOKS_SQL
from fraud_detection_etl_project_spark.plans.registry import query
from fraud_detection_etl_project_spark.sources.local import local_frame
from fraud_detection_etl_project_spark.sources.parquet import load_table

WINNOW_W = 4  # window size over the k-gram hash sequence
SPLIT_TRAIN_PCT = 80


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Winnowing fingerprints (rolling-hash document fingerprinting)
# ---------------------------------------------------------------------------

_WINNOW_ORACLE = f"""
WITH t AS (SELECT doc_id, {NORM_SQL} AS norm, {TOKS_SQL} AS toks FROM documents),
b AS (SELECT doc_id, norm,
             list_transform(range(1, len(toks)), i -> md5(toks[i] || ' ' || toks[i+1])) AS bi
      FROM t),
w AS (SELECT doc_id,
             CASE
               WHEN len(bi) = 0 THEN [md5(norm)]
               WHEN len(bi) < {WINNOW_W} THEN [list_min(bi)]
               ELSE list_distinct(list_transform(range(1, len(bi) - {WINNOW_W - 2}),
                                                 j -> list_min(bi[j:j+{WINNOW_W - 1}])))
             END AS fps
      FROM b)
SELECT doc_id, UNNEST(fps) AS fp FROM w
"""


def _winnow_rows(d: DataFrame) -> DataFrame:
    """(doc_id, fp) winnowing fingerprint rows — shared by the fingerprint
    query and the train/test contamination check."""
    normd = d.select("doc_id", T.normalized(F.col("text")).alias("norm"))
    tokd = normd.withColumn("toks", F.split(F.col("norm"), " "))
    bi = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.md5(
            F.concat(F.element_at("toks", i), F.lit(" "), F.element_at("toks", i + 1)).cast("binary")
        ),
    )
    bid = tokd.withColumn("bi", bi)
    wins = F.transform(
        F.sequence(F.lit(1), F.size("bi") - (WINNOW_W - 1)),
        lambda j: F.array_min(F.slice("bi", j, WINNOW_W)),
    )
    fps = (
        F.when(F.size("bi") == 0, F.array(F.md5(F.col("norm").cast("binary"))))
        .when(F.size("bi") < WINNOW_W, F.array(F.array_min("bi")))
        .otherwise(F.array_distinct(wins))
    )
    return bid.select("doc_id", F.explode(fps).alias("fp"))


@query("doc_winnow_fingerprints", oracle=_WINNOW_ORACLE)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints: hash every token bigram,
    slide a window of {w} hashes, keep each window's minimum, dedupe —
    the plagiarism-detection fingerprint set whose overlap localizes
    *partial* duplication (MinHash only scores whole-document similarity).
    Narrow per-row array work + one explode; the (fp) column becomes the
    shuffle key for cross-corpus overlap joins at scale."""
    return _winnow_rows(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Deterministic train/test split
# ---------------------------------------------------------------------------


@query(
    "doc_train_test_split",
    oracle=f"""
WITH h AS (SELECT doc_id, lang,
                  CAST(('0x' || substring(md5('split1|' || CAST(doc_id AS VARCHAR)), 1, 6)) AS INT) % 100 AS bucket
           FROM documents)
SELECT lang,
       CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train' ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs
FROM h GROUP BY 1, 2
""",
)
def doc_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/20 train/test assignment: bucket = first 24 bits
    of md5(salt || id) mod 100 — reproducible across engines, runs, and
    cluster sizes (unlike ``randomSplit``), stable under data growth (a
    document's split never changes when others are added). Emitted as the
    per-language split histogram so the driver hash-checks the exact
    assignment counts."""
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("split1|"), F.col("doc_id").cast("string")).cast("binary")), 1, 6), 16, 10)
        .cast("long") % 100
    )
    return (
        d.select("lang", F.when(bucket < SPLIT_TRAIN_PCT, "train").otherwise("test").alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Embedding quantization (int8 scalar quantization)
# ---------------------------------------------------------------------------


@query(
    "embedding_int8_quantized",
    oracle="""
WITH s AS (SELECT vec_id, embedding,
                  greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-12) AS scale
           FROM embeddings)
SELECT vec_id,
       floor(scale * 1000000.0 + 0.5) / 1000000.0 AS scale,
       CAST(list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / scale * 127.0 + 0.5) AS BIGINT)) AS BIGINT[]) AS q
FROM s
""",
)
def embedding_int8_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization per vector (max-abs scaling): 4× smaller
    vectors for ANN candidate generation, exact re-scoring on the float
    column only for finalists. Quantized values are exact integers —
    oracle-checked bit-for-bit; only the scale is rounded for display."""
    e = _t(spark, sf_dir, "embeddings")
    absmax = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    # The raw scale must NOT share a name with the rounded display alias
    # below: with both named "scale" in the final select, the lambda's
    # F.col("scale") resolved to the fxr-ROUNDED value (alias shadowing),
    # nudging one borderline element per ~30k vectors across its 0.5
    # rounding boundary — caught by the full-registry gate at sf0.001.
    s = e.select("vec_id", "embedding", F.greatest(absmax, F.lit(1e-12)).alias("raw_scale"))
    q = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") / F.col("raw_scale") * F.lit(127.0) + F.lit(0.5)).cast("long"),
    )
    return s.select("vec_id", fxr("raw_scale", 6).alias("scale"), q.alias("q"))


# ---------------------------------------------------------------------------
# Composed curation filter
# ---------------------------------------------------------------------------


@query(
    "curated_documents",
    oracle=f"""
WITH t AS (SELECT doc_id, lang, {TOKS_SQL} AS toks FROM documents),
q AS (SELECT doc_id, lang,
             len(toks) AS n_toks,
             CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq
      FROM t)
SELECT doc_id, lang,
       CAST(n_toks AS INT) AS n_tokens,
       floor(uniq * 10000.0 + 0.5) / 10000.0 AS uniq_ratio
FROM q
WHERE n_toks BETWEEN 20 AND 10000 AND uniq >= 0.3
""",
)
def curated_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation gate a pretraining pipeline runs first:
    length band + vocabulary-diversity floor (dedup/toxicity/lang gates
    chain after it on the same narrow scan). Pure row-local filters —
    shuffle-free, trivially parallel at 100 TB."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(T.normalized(F.col("text")), " ")
    q = d.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_toks"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("uniq"),
    )
    return q.filter((F.col("n_toks").between(20, 10000)) & (F.col("uniq") >= 0.3)).select(
        "doc_id",
        "lang",
        F.col("n_toks").cast("int").alias("n_tokens"),
        fxr("uniq", 4).alias("uniq_ratio"),
    )


# ---------------------------------------------------------------------------
# Deterministic hash-stratified sampling (sampleBy semantics, reproducible)
# ---------------------------------------------------------------------------

# per-stratum keep rates in basis points (of 10000)
SAMPLE_RATES_BP = {"view": 200, "click": 1000, "error": 500, "signup": 5000, "purchase": 10000}
_RATE_CASE_SQL = (
    "CASE event_type "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in SAMPLE_RATES_BP.items())
    + " ELSE 0 END"
)


@query(
    "stratified_event_sample",
    oracle=f"""
WITH h AS (SELECT event_id, event_type, value,
                  CAST(('0x' || substring(md5('strat1|' || CAST(event_id AS VARCHAR)), 1, 6)) AS INT) % 10000 AS bucket
           FROM events)
SELECT event_id, event_type, value
FROM h WHERE bucket < {_RATE_CASE_SQL}
""",
)
def stratified_event_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum downsampling with *deterministic* membership:
    keep iff (first 24 bits of md5(salt|id)) mod 10000 < stratum rate.

    Unlike ``df.sampleBy`` (seeded Bernoulli over partition iteration
    order — resample on repartition), the hash gate is a pure row-local
    predicate: reproducible across engines/runs/cluster sizes, stable
    under data growth, and it stays a narrow map-only plan that fuses
    into the scan (no shuffle, no RNG state). The oracle checks exact
    sample membership, not just counts. Rates: SAMPLE_RATES_BP — the
    rebalancing shape (downsample dominant classes, keep rare ones) a
    training-data pipeline uses."""
    e = _t(spark, sf_dir, "events")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("strat1|"), F.col("event_id").cast("string")).cast("binary")),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % 10000
    )
    rate = F.lit(0)
    for k, v in SAMPLE_RATES_BP.items():
        rate = F.when(F.col("event_type") == k, F.lit(v)).otherwise(rate)
    return e.filter(bucket < rate).select("event_id", "event_type", "value")


# ---------------------------------------------------------------------------
# Document chunking (context-window splitting with stride overlap)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


@query(
    "doc_chunks",
    oracle=f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
s AS (SELECT doc_id, toks, len(toks) AS n, UNNEST(range(1, len(toks) + 1, {CHUNK_STRIDE})) AS st
      FROM t)
SELECT doc_id,
       CAST((st - 1) / {CHUNK_STRIDE} AS INT) AS chunk_idx,
       CAST(st AS INT) AS start_tok,
       CAST(len(list_slice(toks, st, least(st + {CHUNK_TOKENS - 1}, n))) AS INT) AS n_chunk_tokens,
       md5(array_to_string(list_slice(toks, st, least(st + {CHUNK_TOKENS - 1}, n)), ' ')) AS chunk_fp
FROM s
""",
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into {CHUNK_TOKENS}-token
    chunks every {CHUNK_STRIDE} tokens (16-token overlap) — the standard
    pretraining-prep fan-out. Pure array higher-order functions on a narrow
    scan: materialize the token array once, generate chunk starts with
    ``sequence``, explode, slice. No shuffle at all — the fan-out is
    row-local, so it parallelizes embarrassingly at 100 TB. Chunk content
    parity is proved by md5 fingerprints of each chunk (engine-portable)
    without shipping chunk text through the comparator; chunk_idx derives
    arithmetically from the start offset (identical both engines)."""
    d = _t(spark, sf_dir, "documents")
    tokd = d.select("doc_id", F.split(T.normalized(F.col("text")), " ").alias("toks")).withColumn(
        "n", F.size("toks")
    )
    exploded = tokd.select(
        "doc_id",
        "toks",
        "n",
        F.explode(F.sequence(F.lit(1), F.col("n"), F.lit(CHUNK_STRIDE))).alias("st"),
    )
    chunk = F.slice(F.col("toks"), F.col("st"), CHUNK_TOKENS)
    return exploded.select(
        "doc_id",
        ((F.col("st") - 1) / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.col("st").cast("int").alias("start_tok"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk).cast("binary")).alias("chunk_fp"),
    )


# ---------------------------------------------------------------------------
# Train/test contamination detection (decontamination pre-pass)
# ---------------------------------------------------------------------------

_SPLIT_BUCKET_SQL = (
    "CAST(('0x' || substring(md5('split1|' || CAST(doc_id AS VARCHAR)), 1, 6)) AS INT) % 100"
)


@query(
    "split_contamination",
    oracle=f"""
WITH fpr AS ({_WINNOW_ORACLE}),
sp AS (SELECT doc_id,
              CASE WHEN {_SPLIT_BUCKET_SQL} < {SPLIT_TRAIN_PCT} THEN 'train' ELSE 'test' END AS split
       FROM documents),
train_fps AS (SELECT DISTINCT fp FROM fpr JOIN sp USING (doc_id) WHERE sp.split = 'train')
SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_shared_fps
FROM fpr f JOIN sp s USING (doc_id) JOIN train_fps t ON f.fp = t.fp
WHERE s.split = 'test'
GROUP BY f.doc_id
""",
)
def split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination pre-pass: test-split documents that share winnowing
    fingerprints with ANY train-split document, with the count of shared
    fingerprints — the leakage check a training pipeline runs before
    trusting its eval numbers (composes the deterministic split with the
    rolling-hash fingerprints, so partial copies are caught, not just
    exact dups).

    Scale shape: the join key is the 32-char fingerprint, never text;
    train fingerprints are deduplicated BEFORE the join (one hash agg),
    and the test side joins it semi-join-style — fp-keyed shuffles only."""
    d = _t(spark, sf_dir, "documents")
    fps = _winnow_rows(d)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split1|"), F.col("doc_id").cast("string")).cast("binary")),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    sp = d.select(
        "doc_id", F.when(bucket < SPLIT_TRAIN_PCT, "train").otherwise("test").alias("split")
    )
    fps_s = fps.join(sp, "doc_id")
    train_fps = fps_s.filter(F.col("split") == "train").select("fp").distinct()
    return (
        fps_s.filter(F.col("split") == "test")
        .join(train_fps, "fp")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_fps"))
    )


_SUBSTR_DF_CAP = 64  # fingerprints in more docs than this are boilerplate
_SUBSTR_MIN_SHARED = 5  # pair emission threshold (shared distinct fps)


@query(
    "neardup_substring_pairs",
    oracle=f"""
WITH fpr AS ({_WINNOW_ORACLE}),
df AS (SELECT fp, count(*) AS dfc FROM fpr GROUP BY 1),
keep AS (SELECT f.doc_id, f.fp
         FROM fpr f JOIN df USING (fp)
         WHERE dfc BETWEEN 2 AND {_SUBSTR_DF_CAP}),
p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared_fps
      FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
SELECT doc_a, doc_b, n_shared_fps FROM p
WHERE n_shared_fps >= {_SUBSTR_MIN_SHARED}
""",
)
def neardup_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSTRING-level near-dup pairs (the Lee et al. 'Deduplicating
    Training Data' partial-copy modality): document pairs sharing >= 5
    (_SUBSTR_MIN_SHARED) distinct winnowing fingerprints — each
    fingerprint is a window-minimum rolling hash, so a shared one
    localizes a common PASSAGE. This catches quote-heavy partial copies
    that whole-document MinHash/SimHash banding scores too dissimilar to
    pair, completing the dedup family (exact / MinHash / SimHash /
    embedding / substring).

    Scale shape: the join key is the 32-char fingerprint, never text.
    Document-frequency capping comes FIRST (df <= 64, _SUBSTR_DF_CAP):
    a boilerplate fingerprint in 10^5 docs would otherwise put a
    10^10-pair bucket on one reducer, and the dedup literature drops
    such stop-fingerprints anyway (they mark template text, not
    copying). The df sizing itself is skew-free (round 8,
    operators/dedup.skewfree_bucket_split: two-level map-side-combined
    count, over-cap fps routed by BROADCAST anti join) — the previous
    window count hash-partitioned every copy of a viral fingerprint
    onto one WindowExec reducer, inheriting the very skew the cap
    exists to drop. The residual per-fp pair fan-out is bounded by
    cap^2/2; the pair count aggregates map-side. The oracle replays
    the identical cap + threshold, so a wrong df rule breaks the
    value hash."""
    from fraud_detection_etl_project_spark.operators.dedup import skewfree_bucket_split

    d = _t(spark, sf_dir, "documents")
    fps = _winnow_rows(d)
    # cool side == fps with 2 <= df <= cap; over-cap (hot) fps are
    # boilerplate and dropped outright — no salting needed here
    keep, _boilerplate = skewfree_bucket_split(fps, "doc_id", ["fp"], _SUBSTR_DF_CAP)
    a, b = keep.alias("a"), keep.alias("b")
    return (
        a.join(b, "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= _SUBSTR_MIN_SHARED)
    )


# ---------------------------------------------------------------------------
# Repetition quality signals (Gopher-style)
# ---------------------------------------------------------------------------


@query(
    "doc_repetition_scores",
    oracle=f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
b AS (SELECT doc_id,
             list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bis
      FROM t WHERE len(toks) >= 2),
e AS (SELECT doc_id, len(bis) AS n_bi, UNNEST(bis) AS bg FROM b),
c AS (SELECT doc_id, n_bi, bg, count(*) AS c FROM e GROUP BY 1, 2, 3)
SELECT doc_id,
       CAST(n_bi AS BIGINT) AS n_bigrams,
       CAST(max(c) AS DOUBLE) / n_bi AS top_bigram_frac,
       1.0 - CAST(count(*) AS DOUBLE) / n_bi AS dup_bigram_frac
FROM c GROUP BY doc_id, n_bi
""",
)
def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the Gopher/MassiveText-style filters):
    per-document fraction of bigram occurrences taken by the single most
    frequent bigram, and the duplicate-bigram fraction. High values mark
    boilerplate/spam for curation filtering.

    Scale: the token array is materialized once (never recomputed inside a
    lambda), bigrams explode to (doc_id, bigram) rows with map-side partial
    counts, and both ratios are integer/integer divisions — bit-identical
    across engines, no quantization needed. The shuffle key is
    (doc_id, bigram): high cardinality, well-spread; document text itself
    never shuffles."""
    d = _t(spark, sf_dir, "documents")
    base = d.select("doc_id", T.tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    bi = base.select(
        "doc_id",
        F.expr(
            "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1),"
            " (a, b) -> concat(a, ' ', b))"
        ).alias("bis"),
    )
    ex = bi.select("doc_id", F.size("bis").alias("n_bi"), F.explode("bis").alias("bg"))
    cnt = ex.groupBy("doc_id", "n_bi", "bg").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("doc_id", "n_bi").agg(
        F.max("c").alias("_max_c"), F.count(F.lit(1)).alias("_n_distinct")
    ).select(
        "doc_id",
        F.col("n_bi").cast("bigint").alias("n_bigrams"),
        (F.col("_max_c").cast("double") / F.col("n_bi")).alias("top_bigram_frac"),
        (F.lit(1.0) - F.col("_n_distinct").cast("double") / F.col("n_bi")).alias("dup_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (redaction pre-pass)
# ---------------------------------------------------------------------------

_EMAIL_RE = "[a-z0-9]+@[a-z]+\\.com"
_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


@query(
    "doc_pii_scrubbed",
    oracle=f"""
WITH t AS (SELECT doc_id,
                  CASE WHEN doc_id % 10 = 0
                       THEN text || ' contact user' || doc_id || '@example.com or 555-123-4567'
                       ELSE text END AS raw
           FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(raw, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_fp
FROM t
""",
)
def doc_pii_scrubbed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pre-pass (training-data hygiene): count and replace
    email/phone patterns. The fixture corpus is synthetic-clean, so PII is
    deterministically injected into every 10th document first — making the
    redaction counts and the scrubbed output non-trivially value-checked
    (the md5 of the scrubbed text proves content parity without shipping
    text through the comparison).

    Scale: pure row-local regexp expressions inside WholeStageCodegen —
    no shuffle, no Python; the scan's linear cost is the whole cost.
    (DuckDB's regexp_replace needs the 'g' flag to match Spark's
    replace-all semantics.)"""
    d = _t(spark, sf_dir, "documents")
    raw = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-123-4567"),
        ),
    ).otherwise(F.col("text"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.regexp_count(raw, F.lit(_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(raw, F.lit(_PHONE_RE)).cast("bigint").alias("n_phones"),
        F.md5(scrubbed.cast("binary")).alias("scrubbed_fp"),
    )


# ---------------------------------------------------------------------------
# Sequence packing (concat-then-chunk training batch construction)
# ---------------------------------------------------------------------------

PACK_TOKENS = 256  # tokens per packed training sequence
PACK_SHARDS = 16  # independent packing streams (parallelism knob)

_PACK_SHARD_SQL = (
    "CAST(('0x' || substring(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 6)) AS INT) % "
    f"{PACK_SHARDS}"
)


@query(
    "doc_sequence_packing",
    oracle=f"""
WITH t AS (SELECT doc_id, len({TOKS_SQL}) AS n, {_PACK_SHARD_SQL} AS shard FROM documents),
c AS (SELECT doc_id, shard, n,
             sum(n) OVER (PARTITION BY shard ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t WHERE n > 0),
s AS (SELECT doc_id, shard, n,
             CAST(cum - n AS BIGINT) AS st, CAST(cum AS BIGINT) AS en
      FROM c),
u AS (SELECT doc_id, shard, st, en,
             UNNEST(range(st // {PACK_TOKENS}, ((en - 1) // {PACK_TOKENS}) + 1)) AS sid
      FROM s)
SELECT CAST(shard AS INT) AS shard,
       CAST(sid AS BIGINT) AS seq_id,
       doc_id,
       CAST(greatest(st, sid * {PACK_TOKENS}) - st AS BIGINT) AS doc_offset,
       CAST(least(en, (sid + 1) * {PACK_TOKENS}) - greatest(st, sid * {PACK_TOKENS}) AS BIGINT) AS n_toks
FROM u
""",
)
def doc_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM pretraining: concatenate documents (in
    deterministic doc_id order) within independent shards, then cut the
    token stream into fixed {PACK_TOKENS}-token training sequences —
    GPT-style concat-then-chunk packing. Each output row records one
    document's contribution to one packed sequence (seq_id, offset inside
    the document, token count), which is exactly what a loader needs to
    rebuild sequences and their attention-mask document boundaries.

    Scale shape: the only shuffle is the hash partition on ``shard`` for
    the per-shard running token total; shard count is the parallelism
    knob (set ≈ 4× cores on a cluster — packing streams are independent,
    matching how multi-worker training shards its corpus). The chunk
    fan-out (explode over spanned sequence ids) is row-local, and the
    per-doc state is ONE long (token count) — the document text never
    moves through the shuffle. All outputs are integers, so the DuckDB
    oracle is hash-exact."""
    d = _t(spark, sf_dir, "documents")
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("pack|"), F.col("doc_id").cast("string")).cast("binary")),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % PACK_SHARDS
    ).cast("int")
    t = d.select(
        "doc_id",
        F.size(F.split(T.normalized(F.col("text")), " ")).cast("long").alias("n"),
        shard.alias("shard"),
    ).filter(F.col("n") > 0)
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = (
        t.withColumn("cum", F.sum("n").over(w))
        .withColumn("st", F.col("cum") - F.col("n"))
        .withColumn("en", F.col("cum"))
        .withColumn(
            "seq_id",
            F.explode(
                F.sequence(
                    F.expr(f"st div {PACK_TOKENS}"), F.expr(f"(en - 1) div {PACK_TOKENS}")
                )
            ),
        )
    )
    lo = F.greatest(F.col("st"), F.col("seq_id") * PACK_TOKENS)
    hi = F.least(F.col("en"), (F.col("seq_id") + 1) * PACK_TOKENS)
    return spans.select(
        "shard",
        F.col("seq_id").cast("long").alias("seq_id"),
        "doc_id",
        (lo - F.col("st")).cast("long").alias("doc_offset"),
        (hi - lo).cast("long").alias("n_toks"),
    )


# ---------------------------------------------------------------------------
# Class-balanced sampling (deterministic k-per-group downsample)
# ---------------------------------------------------------------------------

BALANCE_K = 40  # rows kept per class


@query(
    "balanced_event_sample",
    oracle=f"""
WITH r AS (SELECT event_id, event_type,
                  row_number() OVER (
                      PARTITION BY event_type
                      ORDER BY md5('bal1|' || CAST(event_id AS VARCHAR)), event_id) AS rk
           FROM events)
SELECT event_id, event_type, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= {BALANCE_K}
""",
)
def balanced_event_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: keep exactly {BALANCE_K} rows per class
    (fewer if the class is smaller), chosen by ranking on a salted md5 of
    the row id — a deterministic, engine-portable stand-in for per-class
    uniform sampling (every row's hash, and therefore the selected set, is
    reproducible across engines, runs, and cluster sizes; unlike
    ``sample``/``rand`` no seed plumbing or partition-order sensitivity).
    This is the majority-class downsampling step of imbalanced-training
    prep — the fraud-detection north star's 1:773 fraud:clean skew
    (SURVEY §1) is exactly where it applies.

    Scale shape: one hash shuffle on the class key, then a per-partition
    top-k rank — Spark runs row_number with a rank-limit pushdown
    (WindowGroupLimit) so each partition keeps only k rows per class
    before the final filter; no global sort, no collect. The md5 rank key
    is computed in the scan's project (codegen, no Python)."""
    e = _t(spark, sf_dir, "events")
    rk_key = F.md5(F.concat(F.lit("bal1|"), F.col("event_id").cast("string")).cast("binary"))
    w = Window.partitionBy("event_type").orderBy(rk_key, F.col("event_id"))
    return (
        e.select("event_id", "event_type", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= BALANCE_K)
        .select("event_id", "event_type", F.col("rk").cast("long").alias("rk"))
    )


# ---------------------------------------------------------------------------
# A-Res weighted reservoir sampling (Efraimidis-Spirakis, exact top-k keys)
# ---------------------------------------------------------------------------

_ARES_K = 100
_ARES_MOD = 16_777_216  # 2^24: full entropy of the 6-hex md5 bucket
_ARES_SCALE = 1_000_000_000_000


_ARES_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         CAST(floor({_ARES_SCALE}.0 * (-ln((CAST(('0x' || substring(md5('ares1|' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) + 1.0) / {_ARES_MOD}.0))
                    / CAST(n_chars AS DOUBLE) + 0.5) AS BIGINT) AS qkey
  FROM documents WHERE n_chars > 0)
SELECT doc_id, w, qkey FROM keyed ORDER BY qkey ASC, doc_id ASC LIMIT {_ARES_K}
"""


@query("weighted_reservoir_ares", oracle=_ARES_ORACLE)
def weighted_reservoir_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis-Spirakis
    A-Res keys: each document draws u = md5-uniform(0, 1] and the k
    smallest -ln(u)/w keys form an exact weighted-without-replacement
    sample (complementing ``weighted_doc_sample``'s Poisson
    with-replacement design). The md5 priority makes the 'random' draw
    reproducible — the sample is a pure function of the data, so
    backfills and re-runs pick identical rows.

    Scale: key assignment is row-local; selection is
    TakeOrderedAndProject (per-partition bottom-k, k-row merge — no
    global sort). Bottom-k key sets are mergeable across shards, which
    is exactly how the distributed reservoir unions.
    """
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ares1|"), F.col("doc_id").cast("string")).cast("binary")), 1, 6),
            16,
            10,
        ).cast("bigint")
    )
    qkey = F.floor(
        F.lit(float(_ARES_SCALE))
        * (-F.log((h + F.lit(1.0)) / F.lit(float(_ARES_MOD))))
        / F.col("n_chars").cast("double")
        + F.lit(0.5)
    ).cast("bigint")
    keyed = d.select("doc_id", F.col("n_chars").cast("bigint").alias("w"), qkey.alias("qkey"))
    return keyed.orderBy(F.col("qkey").asc(), F.col("doc_id").asc()).limit(_ARES_K)


# ---------------------------------------------------------------------------
# Consistent-hash shard assignment (ring with virtual nodes)
# ---------------------------------------------------------------------------

_CH_SHARDS = 8
_CH_VNODES = 32  # virtual nodes per shard
_CH_RING_MOD = 1_000_000_007


def _ch_ring_rows() -> str:
    return ", ".join(f"({s}, {v})" for s in range(_CH_SHARDS) for v in range(_CH_VNODES))


_CH_ORACLE = f"""
WITH ring AS (
  SELECT shard,
         CAST(('0x' || substring(md5('ring1|' || CAST(shard AS VARCHAR) || '|' || CAST(vn AS VARCHAR)), 1, 6)) AS BIGINT) % {_CH_RING_MOD} AS pos
  FROM (VALUES {_ch_ring_rows()}) t(shard, vn)),
wrap AS (SELECT shard FROM ring ORDER BY pos ASC, shard ASC LIMIT 1),
docs AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5('dkey1|' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % {_CH_RING_MOD} AS pos
  FROM documents),
succ AS (
  SELECT d.doc_id,
         min(CASE WHEN r.pos >= d.pos THEN r.pos * 10 + r.shard END) AS packed
  FROM docs d CROSS JOIN ring r GROUP BY 1),
asg AS (
  SELECT s.doc_id,
         CAST(COALESCE(s.packed % 10, (SELECT shard FROM wrap)) AS BIGINT) AS shard
  FROM succ s)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs
FROM asg GROUP BY 1
"""


@query("doc_shard_assignment_consistent", oracle=_CH_ORACLE)
def doc_shard_assignment_consistent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash shard assignment with 32 virtual nodes per shard:
    each document lands on the first ring position clockwise of its hash
    — the placement scheme whose defining property is MINIMAL MOVEMENT
    (adding/removing a shard relocates only ~1/8 of documents, vs
    rehash-everything for modulo sharding), the right way to spread a
    100 TB corpus over mutable storage/training shards. Emits per-shard
    load counts; virtual nodes are what tighten the load spread.

    Scale: the ring is a PARAMETER table (8x32 rows) broadcast to
    every task — the successor search is a broadcast aggregation per
    row, never a shuffle; the only exchange is the final shard-count
    combine. The min(pos*10+shard) packing resolves position ties
    deterministically on both engines.
    """
    spark_ring = [(s, v) for s in range(_CH_SHARDS) for v in range(_CH_VNODES)]
    ring = local_frame(spark, spark_ring, "shard int, vn int").select(
        "shard",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("ring1|"),
                            F.col("shard").cast("string"),
                            F.lit("|"),
                            F.col("vn").cast("string"),
                        ).cast("binary")
                    ),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("bigint")
            % _CH_RING_MOD
        ).alias("pos"),
    )
    wrap = ring.orderBy(F.col("pos").asc(), F.col("shard").asc()).limit(1).select(
        F.col("shard").alias("wrap_shard")
    )
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("dkey1|"), F.col("doc_id").cast("string")).cast("binary")),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("bigint")
            % _CH_RING_MOD
        ).alias("pos"),
    )
    succ = (
        d.crossJoin(F.broadcast(ring.withColumnRenamed("pos", "rpos")))
        .groupBy("doc_id")
        .agg(
            F.min(
                F.when(F.col("rpos") >= F.col("pos"), F.col("rpos") * 10 + F.col("shard"))
            ).alias("packed")
        )
    )
    asg = succ.crossJoin(F.broadcast(wrap)).select(
        F.coalesce(F.col("packed") % 10, F.col("wrap_shard")).cast("bigint").alias("shard")
    )
    return asg.groupBy("shard").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))


# ---------------------------------------------------------------------------
# Leakage-safe churn label generation (future-window labels)
# ---------------------------------------------------------------------------

_CHURN_GAP_DAYS = 7

_CHURN_ORACLE = f"""
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
lbl AS (
  SELECT user_id, day,
         lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day,
         (SELECT max(CAST(ts AS DATE)) FROM events) AS max_day
  FROM ud)
SELECT user_id, day,
       CASE WHEN next_day IS NULL THEN NULL
            WHEN date_diff('day', day, next_day) > {_CHURN_GAP_DAYS} THEN TRUE
            ELSE FALSE END AS churned_7d,
       CAST(date_diff('day', day, COALESCE(next_day, day)) AS BIGINT) AS days_to_next
FROM lbl
WHERE date_diff('day', day, max_day) > {_CHURN_GAP_DAYS} OR next_day IS NOT NULL
"""


@query("churn_label_generation", oracle=_CHURN_ORACLE)
def churn_label_generation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe churn LABEL GENERATION for supervised training: for
    every (user, active day), the label is whether the user's next
    activity is more than 7 days out — a pure future-window fact.
    Observation days too close to the end of data to have a resolvable
    label (no later activity AND inside the 7-day horizon) are
    DROPPED, not guessed — the right-censoring discipline that stops a
    silent optimistic bias in the training set; users' final activity
    with enough lookahead keeps a NULL next_day and labels via the
    horizon rule.

    Scale: one distinct + one lead window per user (single user-keyed
    shuffle); the dataset-end day rides as a broadcast scalar.
    """
    e = _t(spark, sf_dir, "events")
    ud = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    mx = e.agg(F.max(F.col("ts").cast("date")).alias("max_day"))
    w = Window.partitionBy("user_id").orderBy("day")
    lbl = ud.select(
        "user_id", "day", F.lead("day").over(w).alias("next_day")
    ).crossJoin(F.broadcast(mx))
    return lbl.filter(
        (F.datediff(F.col("max_day"), F.col("day")) > _CHURN_GAP_DAYS)
        | F.col("next_day").isNotNull()
    ).select(
        "user_id",
        "day",
        F.when(F.col("next_day").isNull(), F.lit(None).cast("boolean"))
        .when(F.datediff(F.col("next_day"), F.col("day")) > _CHURN_GAP_DAYS, F.lit(True))
        .otherwise(F.lit(False))
        .alias("churned_7d"),
        F.datediff(F.coalesce(F.col("next_day"), F.col("day")), F.col("day"))
        .cast("bigint")
        .alias("days_to_next"),
    )


# ---------------------------------------------------------------------------
# Deterministic negative sampling for recommender training pairs
# ---------------------------------------------------------------------------

_NEG_PER_USER = 5

_NEG_ORACLE = f"""
WITH mx AS (SELECT CAST(max(l_partkey) AS BIGINT) AS mp FROM lineitem),
u AS (SELECT DISTINCT o_custkey AS user_key FROM orders),
cand AS (
  SELECT u.user_key, t.i AS slot,
         1 + CAST(('0x' || substring(md5('neg1|' || CAST(u.user_key AS VARCHAR) || '|' || CAST(t.i AS VARCHAR)), 1, 6)) AS BIGINT) % mx.mp AS part_key
  FROM u, mx, UNNEST(range({_NEG_PER_USER})) t(i)),
pos AS (
  SELECT DISTINCT o.o_custkey AS user_key, l.l_partkey AS part_key
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)
SELECT c.user_key, CAST(c.slot AS BIGINT) AS slot, CAST(c.part_key AS BIGINT) AS part_key
FROM cand c LEFT JOIN pos p
  ON p.user_key = c.user_key AND p.part_key = c.part_key
WHERE p.user_key IS NULL
"""


@query("recommender_negative_samples", oracle=_NEG_ORACLE)
def recommender_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for implicit-feedback training:
    propose 5 md5-addressed candidate parts per customer and keep the
    ones the customer never actually ordered (verified with an
    anti-join against the positives) — the (user, non-item) pair
    construction BPR/ALS-style recommenders train on. md5 addressing
    makes the negatives reproducible: re-runs, backfills, and the
    eventual eval all see the same pairs.

    Scale: candidates are |users| x 5 narrow rows; the verification
    anti-join hash-partitions on the (user, part) pair key against the
    distinct positives — no per-user scans of the catalog, no rejection
    loop (collisions simply drop, which the fixed slot count tolerates).
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    mx = li.agg(F.max("l_partkey").cast("bigint").alias("mp"))
    u = o.select(F.col("o_custkey").alias("user_key")).distinct()
    slots = F.explode(F.sequence(F.lit(0), F.lit(_NEG_PER_USER - 1))).alias("slot")
    cand = u.crossJoin(F.broadcast(mx)).select("user_key", "mp", slots).select(
        "user_key",
        "slot",
        (
            F.lit(1)
            + F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("neg1|"),
                            F.col("user_key").cast("string"),
                            F.lit("|"),
                            F.col("slot").cast("string"),
                        ).cast("binary")
                    ),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("bigint")
            % F.col("mp")
        ).alias("part_key"),
    )
    pos = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("user_key"), F.col("l_partkey").alias("part_key"))
        .distinct()
    )
    return cand.join(pos, ["user_key", "part_key"], "left_anti").select(
        "user_key", F.col("slot").cast("bigint").alias("slot"), F.col("part_key").cast("bigint").alias("part_key")
    )


# ---------------------------------------------------------------------------
# DSIR importance weights (hashed-n-gram importance resampling)
# ---------------------------------------------------------------------------

_DSIR_B = 256  # hash buckets; ~10k at corpus scale (paper uses 10k)
_DSIR_SCALE = 1_000_000  # per-bucket log-ratio quantization


def _dsir_v28_sql(expr: str) -> str:
    """28-bit int from the first 7 hex digits of md5(expr) — the repo's
    portable cross-engine hash (same digit polynomial as operators/dedup
    POW16)."""
    from fraud_detection_etl_project_spark.operators.dedup import HEX, POW16

    return " + ".join(
        f"(strpos('{HEX}', substring(md5({expr}), {k + 1}, 1)) - 1) * {POW16[k]}"
        for k in range(7)
    )


_DSIR_ORACLE = f"""
WITH t AS (SELECT doc_id, lang, {TOKS_SQL} AS toks FROM documents),
bg AS (
  SELECT doc_id, lang,
         ({_dsir_v28_sql("toks[i] || ' ' || toks[i+1]")}) % {_DSIR_B} AS b
  FROM t, UNNEST(range(1, len(toks))) p(i)),
per_doc AS (
  SELECT doc_id, lang, b, CAST(count(*) AS BIGINT) AS cnt
  FROM bg GROUP BY 1, 2, 3),
bucket AS (
  SELECT b, CAST(sum(cnt) AS BIGINT) AS cnt_s,
         CAST(sum(CASE WHEN lang = 'en' THEN cnt ELSE 0 END) AS BIGINT) AS cnt_t
  FROM per_doc GROUP BY 1),
tot AS (SELECT CAST(sum(cnt_s) AS BIGINT) AS s_tot, CAST(sum(cnt_t) AS BIGINT) AS t_tot
        FROM bucket),
lr AS (
  SELECT b, CAST(floor({_DSIR_SCALE}.0 * ln(
               ((cnt_t + 1.0) * (s_tot + {_DSIR_B}))
             / ((cnt_s + 1.0) * (t_tot + {_DSIR_B}))) + 0.5) AS BIGINT) AS q_lr
  FROM bucket, tot)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_bigrams,
       CAST(sum(cnt * q_lr) AS BIGINT) AS q_logweight
FROM per_doc JOIN lr USING (b)
GROUP BY 1
"""


@query("dsir_importance_weights", oracle=_DSIR_ORACLE)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Data Selection via Importance Resampling, Xie et al. 2023,
    public): per-document importance weights log(p_target/q_source) under
    hashed-bigram bag-of-features language models — the standard recipe
    for tilting a raw crawl toward a target domain before pretraining.
    Word bigrams hash into {_DSIR_B} buckets (portable md5 28-bit
    polynomial); the target distribution is fit on the English slice
    (lang='en' — the stand-in for any target corpus), the source on the
    full corpus, both with add-1 smoothing. ONE scan feeds both fits: the
    bucket aggregation computes source counts and conditional target
    counts in the same partial agg. Each bucket's log-ratio is quantized
    ONCE to an integer ({_DSIR_SCALE}x), so document weights are exact
    integer dot products cnt·q_lr — cross-engine float risk is confined
    to {_DSIR_B} ln() calls on exactly-representable integer ratios
    (products < 2^53), not to per-document float sums.

    Scale: the per-doc bucket histogram shuffles on (doc_id, bucket) with
    map-side combine; the bucket model is {_DSIR_B} rows → broadcast back
    (at the paper's 10k buckets, still trivially broadcastable). Nothing
    re-reads text after the first explode. The resample step is a
    deterministic filter on q_logweight downstream (cf.
    weighted_doc_sample)."""
    d = _t(spark, sf_dir, "documents")
    bg = (
        d.select("doc_id", "lang", T.tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "if(size(toks) < 2, array(), transform(sequence(1, size(toks) - 1),"
                    " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))))"
                )
            ).alias("gram"),
        )
        .withColumn(
            "b",
            F.conv(F.substring(F.md5(F.col("gram")), 1, 7), 16, 10).cast("long")
            % F.lit(_DSIR_B),
        )
    )
    per_doc = (
        bg.groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        # persist kept: cold A/B, sf0.1, 4 cores, 5 pairs: 2.15 s with vs 2.76 s without (medians), won 5/5, parent IQR 0.11 s
        .persist()
    )
    bucket = per_doc.groupBy("b").agg(
        F.sum("cnt").cast("bigint").alias("cnt_s"),
        F.sum(F.when(F.col("lang") == "en", F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("cnt_t"),
    )
    tot = bucket.agg(
        F.sum("cnt_s").cast("bigint").alias("s_tot"),
        F.sum("cnt_t").cast("bigint").alias("t_tot"),
    )
    lr = bucket.crossJoin(F.broadcast(tot)).select(
        "b",
        F.floor(
            F.lit(float(_DSIR_SCALE))
            * F.log(
                ((F.col("cnt_t") + 1.0) * (F.col("s_tot") + F.lit(_DSIR_B)).cast("double"))
                / ((F.col("cnt_s") + 1.0) * (F.col("t_tot") + F.lit(_DSIR_B)).cast("double"))
            )
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("q_lr"),
    )
    return (
        per_doc.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("cnt") * F.col("q_lr")).cast("bigint").alias("q_logweight"),
        )
    )


# ---------------------------------------------------------------------------
# Exact cross-document repeated-substring coverage (Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better": remove exact
# substrings repeated across the corpus). The winnow-fingerprint pair join
# above finds CANDIDATE near-dup pairs; this measures the EXACT repeat
# surface itself, per document.
# ---------------------------------------------------------------------------

_REP_L = 40  # exact-repeat gram width in characters (Lee et al. use 50 BPE tokens)

_REPEAT_ORACLE = f"""
WITH t AS (SELECT doc_id, {NORM_SQL} AS norm FROM documents),
g AS (SELECT doc_id, s.p AS p, s.g AS g FROM (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(norm) - {_REP_L} + 2),
                                     p -> {{'p': p, 'g': md5(substring(norm, p, {_REP_L}))}})) AS s
        FROM t WHERE len(norm) >= {_REP_L})),
rep AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1)
        WHERE nd >= 2),
f AS (SELECT g.doc_id, g.p FROM g JOIN rep USING (g)),
w AS (SELECT doc_id, p, lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS np FROM f),
agg AS (SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_rep_positions,
               CAST(1 + sum(CASE WHEN np IS NOT NULL AND np - p > {_REP_L}
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat_intervals,
               CAST(sum(CASE WHEN np IS NULL THEN {_REP_L}
                             ELSE least({_REP_L}, np - p) END) AS BIGINT) AS covered_chars
        FROM w GROUP BY 1)
SELECT d.doc_id,
       coalesce(a.n_rep_positions, CAST(0 AS BIGINT)) AS n_rep_positions,
       coalesce(a.n_repeat_intervals, CAST(0 AS BIGINT)) AS n_repeat_intervals,
       coalesce(a.covered_chars, CAST(0 AS BIGINT)) AS covered_chars
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
"""


_CONTAM_ORACLE = f"""
WITH t AS (SELECT doc_id, {NORM_SQL} AS norm FROM documents),
g AS (SELECT doc_id, s.p AS p, s.g AS g FROM (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(norm) - {_REP_L} + 2),
                                     p -> {{'p': p, 'g': md5(substring(norm, p, {_REP_L}))}})) AS s
        FROM t WHERE len(norm) >= {_REP_L})),
traing AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 <> 0),
f AS (SELECT g.doc_id, g.p FROM g JOIN traing USING (g) WHERE g.doc_id % 10 = 0),
w AS (SELECT doc_id, p, lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS np FROM f),
agg AS (SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_contam_positions,
               CAST(1 + sum(CASE WHEN np IS NOT NULL AND np - p > {_REP_L}
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_contam_intervals,
               CAST(sum(CASE WHEN np IS NULL THEN {_REP_L}
                             ELSE least({_REP_L}, np - p) END) AS BIGINT) AS contam_chars
        FROM w GROUP BY 1)
SELECT d.doc_id, CAST(len({NORM_SQL}) AS BIGINT) AS n_norm_chars,
       coalesce(a.n_contam_positions, CAST(0 AS BIGINT)) AS n_contam_positions,
       coalesce(a.n_contam_intervals, CAST(0 AS BIGINT)) AS n_contam_intervals,
       coalesce(a.contam_chars, CAST(0 AS BIGINT)) AS contam_chars
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
WHERE d.doc_id % 10 = 0
"""


@query("split_exact_contamination", oracle=_CONTAM_ORACLE)
def split_exact_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-substring train/test decontamination readout (the GPT-3 /
    PaLM appendix methodology, exact-overlap flavor, beside the
    fingerprint-based ``split_contamination``): for every TEST document
    (doc_id % 10 == 0), the character positions whose 40-char window
    also occurs anywhere in the TRAIN split (% 10 != 0) merge into
    maximal intervals — reporting contaminated position/interval counts
    and the exact contaminated character coverage against the doc's
    normalized length, the quantity a decontamination pass would excise
    or a leakage audit would report. All-integer outputs; the oracle
    re-derives the asymmetric overlap bit-for-bit.

    Scale: same posture as doc_exact_repeat_coverage (positions travel
    as 16-byte digests, map-side-combined gram distinct, doc-bounded
    interval merge) with the train gram set REPLACING the >= 2-doc
    repeat set — the semi join probes O(test windows) against a
    train-distinct gram table, so a small eval suite against a 100 TB
    train corpus is test-scaled on the probe side and one distinct over
    train grams that the dedup pass already materializes."""
    from fraud_detection_etl_project_spark.operators.dedup import exact_contamination

    t = _t(spark, sf_dir, "documents").select(
        "doc_id", T.normalized(F.col("text")).alias("norm")
    )
    return exact_contamination(
        t.filter(F.col("doc_id") % 10 == 0),
        t.filter(F.col("doc_id") % 10 != 0),
        gram_len=_REP_L,
    )


_TRAIN_DECON_ORACLE = f"""
WITH t AS (SELECT doc_id, {NORM_SQL} AS norm FROM documents),
g AS (SELECT doc_id, s.g AS g FROM (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(norm) - {_REP_L} + 2),
                                     p -> {{'p': p, 'g': md5(substring(norm, p, {_REP_L}))}})) AS s
        FROM t WHERE len(norm) >= {_REP_L})),
testg AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0)
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hit_windows
FROM g JOIN testg USING (g)
WHERE g.doc_id % 10 <> 0
GROUP BY 1
"""


@query("train_contaminated_docs", oracle=_TRAIN_DECON_ORACLE)
def train_contaminated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL direction of exact-overlap decontamination (round 10
    — the GPT-3 appendix rule applied to the side that actually gets
    edited): every TRAIN document (doc_id % 10 != 0) sharing any exact
    40-char window with a TEST document is returned with its hit-window
    count; anti-joining the corpus against this frame IS the
    decontaminated training set. Companion to
    ``split_exact_contamination`` (the test-side coverage readout);
    both ride ``operators/dedup.char_windows``.

    Scale: this is the direction that touches the 100 TB side, and its
    plan is the best case available — the eval suite's distinct gram
    set is tiny by definition, so it BROADCASTS and train flags itself
    in ONE scan-local semi-join pass (zero shuffle of train data; the
    only shuffle is the map-side-combined per-doc hit count over
    contaminated docs only). A pathologically large test side falls
    back to sort-merge via the counted 4M-gram guard."""
    from fraud_detection_etl_project_spark.operators.dedup import (
        train_contamination_flags,
    )

    t = _t(spark, sf_dir, "documents").select(
        "doc_id", T.normalized(F.col("text")).alias("norm")
    )
    return train_contamination_flags(
        t.filter(F.col("doc_id") % 10 != 0),
        t.filter(F.col("doc_id") % 10 == 0),
        gram_len=_REP_L,
    )


@query("doc_exact_repeat_coverage", oracle=_REPEAT_ORACLE)
def doc_exact_repeat_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT cross-document repeated-substring coverage per document —
    the Lee et al. (ACL'22) exact-substring dedup primitive beside the
    winnowing CANDIDATE path: every 40-char window of the normalized
    text is hashed (md5 — oracle-portable); a window whose gram occurs
    in >= 2 distinct documents is a repeat position; per document the
    flagged positions merge into maximal intervals (gaps-and-islands
    over lead(p)) giving the repeated-position count, the merged
    interval count, and the exact character coverage of cross-document
    repeats — the quantity exact-substring dedup would delete.

    All-integer outputs, so the DuckDB oracle re-derives every value
    bit-for-bit (interval-merge boundary conditions included — the
    last-window L-credit and the gap > L island break are the easy
    off-by-ones to get wrong).

    Scale: this is char-scaled by nature (every position is examined —
    the exact counterpart cannot sample), but each stage is a flat
    hash-shuffle: positions carry 16-byte digests (never text) to a
    gram-keyed count, the >= 2-doc survivor set semi-joins back, and the
    interval merge is a per-document window bounded by document length.
    The repeated-gram count stage is the df-cap shape from the winnow
    path — a boilerplate gram present in 10^9 docs is ONE group row
    after map-side partial aggregation, not a reducer hotspot."""
    t = _t(spark, sf_dir, "documents").select(
        "doc_id", T.normalized(F.col("text")).alias("norm")
    )
    long_enough = t.filter(F.length("norm") >= _REP_L)
    grams = long_enough.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(norm) - {_REP_L} + 1), "
                f"p -> named_struct('p', p, 'g', md5(substring(norm, p, {_REP_L}))))"
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.p").alias("p"), F.col("s.g").alias("g"))
    rep = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    flagged = grams.join(rep, "g", "semi").select("doc_id", "p")
    w = Window.partitionBy("doc_id").orderBy("p")
    agg = (
        flagged.withColumn("np", F.lead("p").over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rep_positions"),
            (
                F.lit(1)
                + F.sum(
                    F.when(
                        F.col("np").isNotNull() & (F.col("np") - F.col("p") > _REP_L), 1
                    ).otherwise(0)
                )
            )
            .cast("bigint")
            .alias("n_repeat_intervals"),
            F.sum(
                F.when(F.col("np").isNull(), F.lit(_REP_L)).otherwise(
                    F.least(F.lit(_REP_L), F.col("np") - F.col("p"))
                )
            )
            .cast("bigint")
            .alias("covered_chars"),
        )
    )
    d = _t(spark, sf_dir, "documents").select("doc_id")
    return d.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_rep_positions", F.lit(0)).cast("bigint").alias("n_rep_positions"),
        F.coalesce("n_repeat_intervals", F.lit(0)).cast("bigint").alias("n_repeat_intervals"),
        F.coalesce("covered_chars", F.lit(0)).cast("bigint").alias("covered_chars"),
    )
