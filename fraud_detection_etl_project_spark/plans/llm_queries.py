"""LLM-data-pipeline query inventory: text analysis, dedup, similarity,
multimodal plumbing, streaming (north star, BASELINE.json).

The MinHash / SimHash / LSH oracles are *generated from the same constants*
as the Spark operators (seeds, band layout, hyperplanes), and all hashing is
md5-based, so signatures are bit-identical between Spark and DuckDB — the
driver's value-hash check verifies the sketches themselves, not just row
counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_etl_project_spark.functions import ols
from fraud_detection_etl_project_spark.functions import text as T
from fraud_detection_etl_project_spark.functions.vectors import cosine, norm
from fraud_detection_etl_project_spark.operators import dedup as D
from fraud_detection_etl_project_spark.operators import graph as G
from fraud_detection_etl_project_spark.operators import similarity as S
from fraud_detection_etl_project_spark.functions.rounding import fxr
from fraud_detection_etl_project_spark.plans.registry import query
from fraud_detection_etl_project_spark.plans.staging import staged
from fraud_detection_etl_project_spark.sources.parquet import load_table
from fraud_detection_etl_project_spark.streaming.windows import hourly_event_rollup

# DuckDB fragments mirroring functions/text.py (regexp_replace needs the 'g'
# flag in DuckDB; Spark replaces all matches by default).
NORM_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
TOKS_SQL = f"string_split({NORM_SQL}, ' ')"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "doc_stats",
    oracle=f"""
WITH t AS (SELECT doc_id, n_chars, {TOKS_SQL} AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(n_chars AS BIGINT) AS n_chars,
       floor((CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)) * 10000.0 + 0.5) / 10000.0 AS avg_token_len,
       floor((CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 10000.0 + 0.5) / 10000.0 AS uniq_ratio
FROM t
""",
    bench=True,
)
def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (token counting, §north-star text
    analysis). All higher-order array functions — a single narrow scan."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count(F.col("text")).cast("int").alias("n_tokens"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
        fxr(T.avg_token_len(F.col("text")), 4).alias("avg_token_len"),
        fxr(T.uniq_token_ratio(F.col("text")), 4).alias("uniq_ratio"),
    )


_STOP_LIST_SQL = ", ".join(f"'{w}'" for w in T.STOPWORDS)


@query(
    "doc_quality_scores",
    oracle=f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents)
SELECT doc_id,
       floor((CAST(len(list_filter(toks, t -> t IN ({_STOP_LIST_SQL}))) AS DOUBLE) / len(toks)) * 10000.0 + 0.5) / 10000.0 AS stop_ratio,
       floor(((CASE WHEN len(toks) BETWEEN 20 AND 10000 THEN 1.0 ELSE 0.0 END
              + CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
              + least(CAST(len(list_filter(toks, t -> t IN ({_STOP_LIST_SQL}))) AS DOUBLE) / len(toks) * 5, 1.0)
             ) / 3.0) * 10000.0 + 0.5) / 10000.0 AS quality
FROM t
""",
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality scoring (length band + vocabulary
    diversity + stopword presence) — functions/text.quality_score."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        fxr(T.stopword_ratio(F.col("text")), 4).alias("stop_ratio"),
        T.quality_score(F.col("text")).alias("quality"),
    )


def _lang_score_sql(markers: list[str]) -> str:
    in_list = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter(toks, t -> t IN ({in_list})))"


_LANG_CASE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN best > 0 AND s_{lang} = best THEN '{lang}'" for lang in T.LANG_MARKERS
    )
    + " ELSE 'und' END"
)

_LANG_ORACLE = f"""
WITH t AS (SELECT doc_id, lang, {TOKS_SQL} AS toks FROM documents),
scored AS (SELECT doc_id, lang,
                  {', '.join(f'{_lang_score_sql(m)} AS s_{lang}' for lang, m in T.LANG_MARKERS.items())}
           FROM t),
best AS (SELECT *, greatest({', '.join('s_' + lang for lang in T.LANG_MARKERS)}) AS best FROM scored)
SELECT lang, {_LANG_CASE_SQL} AS predicted, CAST(count(*) AS BIGINT) AS n_docs
FROM best GROUP BY 1, 2
"""


@query("lang_id_confusion", oracle=_LANG_ORACLE)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic vs the labeled ``lang`` column —
    a confusion matrix. (Real char-n-gram profiles are the production
    path; the heuristic keeps the feature-match->argmax shape portable.)"""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", T.lang_guess(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "doc_fingerprints",
    oracle=f"SELECT doc_id, md5({NORM_SQL}) AS fp FROM documents",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting: md5 of normalized text — engine-portable
    (bit-identical in DuckDB/Postgres), unlike xxhash64."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


_TFIDF_ORACLE = f"""
WITH t AS (SELECT doc_id, UNNEST({TOKS_SQL}) AS tok FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS n FROM t GROUP BY 1),
dfq AS (SELECT tok, count(DISTINCT doc_id) AS dfc FROM t GROUP BY 1),
nn AS (SELECT count(*) AS nd FROM documents),
s AS (SELECT tf.doc_id, tf.tok,
             floor(((CAST(tf.c AS DOUBLE) / dl.n)
                    * (floor(ln((nd + 1.0) / (dfc + 1.0)) * 1000000.0 + 0.5) / 1000000.0))
                   * 1000000.0 + 0.5) / 1000000.0 AS tfidf
      FROM tf JOIN dl USING (doc_id) JOIN dfq USING (tok) CROSS JOIN nn),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rn
      FROM s)
SELECT doc_id, tok, tfidf, CAST(rn AS INT) AS rn FROM r WHERE rn <= 5
"""


@query("tfidf_top_terms", oracle=_TFIDF_ORACLE, bench=True)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document. tf = term count / doc length;
    idf = ln((N+1)/(df+1)), smoothed.

    Scale shape (r11): doc length is ``size(toks)`` — computed INSIDE
    the row before the explode and carried through the term-count
    aggregation as a functionally-dependent ``first(n)``, so the r10
    plan's separate per-doc length aggregation AND its doc_id-keyed
    join-back are gone outright. Document frequency aggregates the
    per-doc DISTINCT token stream (``array_distinct`` row-side, then a
    plain count per token) — value-identical to the old
    ``countDistinct(doc_id)`` over the raw stream, but the distinct
    work happens in the row and the shuffle carries one row per (doc,
    distinct tok) instead of per token occurrence. Three full
    tokenize + explode + shuffle passes in r10 → two scans, two
    shuffles, no join on doc_id, no persist barrier. The corpus size N
    rides in as a broadcast 1-row cross join — no driver-side collect in
    the plan. The idf is quantized (1e-6) *before* the multiply so the
    transcendental ln never decides a rounding boundary across engines;
    final ranking orders by the quantized score with the term as a
    deterministic tiebreak."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    ta = d.select("doc_id", F.split(T.normalized(F.col("text")), " ").alias("toks"))
    toks = ta.select("doc_id", F.size("toks").alias("n"), F.explode("toks").alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("c"), F.first("n").alias("n")
    )
    dfq = (
        ta.select(F.explode(F.array_distinct("toks")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("dfc"))
    )
    nn = d.agg(F.count(F.lit(1)).alias("nd"))
    idf = fxr(F.log((F.col("nd") + F.lit(1.0)) / (F.col("dfc") + F.lit(1.0))), 6)
    scored = (
        tf.join(F.broadcast(dfq), "tok")
        .crossJoin(F.broadcast(nn))
        .select(
            "doc_id",
            "tok",
            fxr((F.col("c").cast("double") / F.col("n")) * idf, 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok").asc())
    return scored.withColumn("rn", F.row_number().over(w).cast("int")).filter(F.col("rn") <= 5)


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_exact_groups",
    oracle=f"""
SELECT md5({NORM_SQL}) AS fp,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS canonical_id
FROM documents GROUP BY 1
""",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: fingerprint -> count + deterministic canonical
    representative (min id). The shuffle key is the 16-byte hash, never the
    document text — the 100 TB-safe formulation."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("canonical_id"),
        )
    )


# v(s): 28-bit int from the first 7 hex digits of md5(s) — same digit
# polynomial as the Spark side (operators/dedup.py POW16).
_MH_V_SQL = " + ".join(
    f"(strpos('{D.HEX}', substring(md5(s), {k + 1}, 1)) - 1) * {D.POW16[k]}"
    for k in range(7)
)


def _minhash_sql(alias_prefix: str = "mh") -> str:
    """DuckDB expressions reproducing operators/dedup.minhash_signatures:
    min over shingles of (a*v + b) mod P on the shared constants."""
    exprs = []
    for i, (a, b) in enumerate(D.MINHASH_AB):
        exprs.append(
            f"CAST(list_min(list_transform(vs, v -> ({a} * v + {b}) % {D.MINHASH_P})) AS BIGINT)"
            f" AS {alias_prefix}{i}"
        )
    return ",\n       ".join(exprs)


_SHINGLES_SQL = f"""
WITH t AS (SELECT doc_id, {NORM_SQL} AS norm, {TOKS_SQL} AS toks FROM documents),
shi AS (SELECT doc_id,
              CASE WHEN len(toks) >= {D.SHINGLE}
                   THEN list_transform(range(1, len(toks) - {D.SHINGLE - 2}),
                                       i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))
                   ELSE [norm] END AS shingles
       FROM t),
sh AS (SELECT doc_id, list_transform(shingles, s -> {_MH_V_SQL}) AS vs FROM shi)
"""

_MINHASH_ORACLE = f"""
{_SHINGLES_SQL}
SELECT doc_id,
       {_minhash_sql()}
FROM sh
"""


@query("minhash_signatures", oracle=_MINHASH_ORACLE, bench=True)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 affine hashes over one md5 per 3-word
    shingle). JVM-side expressions only — no UDFs; the oracle reproduces
    every signature value exactly (int64 arithmetic both engines)."""
    return D.minhash_signatures(_t(spark, sf_dir, "documents"))


_rows_per_band = D.N_MINHASH // D.BANDS
_BAND_SELECTS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band, "
    + " || '|' || ".join(
        f"CAST(mh{b * _rows_per_band + r} AS VARCHAR)" for r in range(_rows_per_band)
    )
    + " AS key FROM sig"
    for b in range(D.BANDS)
)

_NEARDUP_ORACLE = f"""
{_SHINGLES_SQL},
sig AS (SELECT doc_id, {_minhash_sql()} FROM sh),
bands AS ({_BAND_SELECTS})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
"""


@query("neardup_pairs_minhash", oracle=_NEARDUP_ORACLE)
def neardup_pairs_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH near-dup candidates: pairs agreeing on >=1 of 4 bands. The only
    shuffle is the band-bucket self-join over (band, key, id) tuples — the
    O(n²) cross join never materializes."""
    return D.neardup_pairs_minhash(_t(spark, sf_dir, "documents"))


@query("neardup_pairs_salted", oracle=_NEARDUP_ORACLE)
def neardup_pairs_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-bucket-salted LSH pair join (operators/dedup.
    neardup_pairs_minhash_salted): identical pairs to
    neardup_pairs_minhash — same oracle value-checks both — but buckets
    over the cap self-join on (band, key, salt_a, salt_b), spreading a
    viral duplicate cluster's quadratic pair generation over G² reducer
    keys instead of one straggler task. The cap is set to 4 here so the
    fixture actually exercises the salted leg (real corpora would use
    O(100)); tests/test_operators.py drives an adversarial 60-identical-
    doc skew fixture through it and asserts exact pair parity."""
    return D.neardup_pairs_minhash_salted(
        _t(spark, sf_dir, "documents"), bucket_cap=4, salt_groups=4
    )


@query(
    "neardup_pairs_allpairs_exact",
    oracle=f"""
WITH tk AS (SELECT doc_id, UNNEST(list_distinct({TOKS_SQL})) AS tok FROM documents),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tk GROUP BY 1),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(count(*) AS BIGINT) AS n_inter
          FROM tk a JOIN tk b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT i.doc_a, i.doc_b, i.n_inter,
       floor(CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter)
             * 1000000.0 + 0.5) / 1000000.0 AS jaccard
FROM inter i
JOIN sz sa ON sa.doc_id = i.doc_a
JOIN sz sb ON sb.doc_id = i.doc_b
WHERE 10 * i.n_inter >= 9 * (sa.n + sb.n - i.n_inter)
""",
)
def neardup_pairs_allpairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 0.9 near-dup pairs via prefix filtering — the
    AllPairs/PPJoin family (operators/dedup.allpairs_jaccard_join),
    completing the dedup spectrum beside the PROBABILISTIC candidate
    paths (MinHash banding, SimHash pigeonhole): zero false negatives by
    the prefix-filter lemma, zero false positives by exact verification,
    no tuning knob trading recall for cost. The oracle computes the
    naive all-shared-token-pairs join with the same integer threshold
    inequality (10*o >= 9*(|a|+|b|-o), exact rational t = 9/10), so a
    candidate lost to a mis-sized prefix, a frequency-order tie broken
    differently, or a float boundary flip all break the value hash.

    Scale: candidates come only from RARE-token prefix collisions
    (stopwords rank last and fall out of every prefix); residual hot
    prefix tokens ride the shared cap-and-salt join, and the size
    filter runs in the join stage. The oracle's naive form is quadratic
    and exists only as the sf0.01 truth — the operator is the scale
    path."""
    return D.allpairs_jaccard_join(
        _t(spark, sf_dir, "documents"), t_num=9, t_den=10, bucket_cap=64, salt_groups=8
    )


# Connected components over the LSH candidate pairs — duplicate *clusters*,
# not just pairs. The DuckDB oracle walks the same edge set with a recursive
# CTE (min reachable id == component), so the full assignment is value-checked.
_CC_BASE_SQL = f"""
{_SHINGLES_SQL.replace("WITH t AS", "WITH RECURSIVE t AS", 1)},
sig AS (SELECT doc_id, {_minhash_sql()} FROM sh),
bands AS ({_BAND_SELECTS}),
pairs AS (SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
cedges AS (SELECT pa AS ea, pb AS eb FROM pairs
           UNION SELECT pb AS ea, pa AS eb FROM pairs),
reach AS (
  SELECT doc_id AS node, doc_id AS r FROM documents
  UNION
  SELECT e.ea AS node, reach.r AS r FROM cedges e JOIN reach ON reach.node = e.eb
)
"""

_CC_ORACLE = (
    _CC_BASE_SQL
    + """
SELECT CAST(node AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS component
FROM reach GROUP BY node
"""
)


@query("neardup_components", oracle=_CC_ORACLE)
def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components (min-label propagation with
    pointer jumping, operators/graph.py) over the LSH candidate pairs.
    Every shuffle moves (id, id) pairs only; convergence is O(log diameter)
    iterations. Singleton docs keep their own id as component."""
    d = _t(spark, sf_dir, "documents")
    pairs = D.neardup_pairs_minhash(d)
    cc = G.connected_components(
        d.select("doc_id"), pairs, node_col="doc_id", src="doc_a", dst="doc_b"
    )
    return cc.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("comp").cast("bigint").alias("component"),
    )


_CC_KEPT_ORACLE = (
    _CC_BASE_SQL
    + """
, comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
cl AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
SELECT CAST(cl.component AS BIGINT) AS doc_id,
       CAST(cl.cluster_size AS BIGINT) AS cluster_size,
       CAST(d.n_chars AS BIGINT) AS n_chars
FROM cl JOIN documents d ON d.doc_id = cl.component
"""
)


@query("neardup_dedup_kept", oracle=_CC_KEPT_ORACLE, bench=True)
def neardup_dedup_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus: one canonical doc per duplicate cluster
    (the min-id member — which IS the component id under min-label
    propagation), annotated with its cluster size."""
    d = _t(spark, sf_dir, "documents")
    pairs = D.neardup_pairs_minhash(d)
    cc = G.connected_components(
        d.select("doc_id"), pairs, node_col="doc_id", src="doc_a", dst="doc_b"
    )
    kept = G.canonical_per_component(cc)
    return kept.join(d, kept["node"] == d["doc_id"]).select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


def _simhash_oracle(bits: int = 64) -> str:
    hexpos = "0123456789abcdef"
    bit_sums = ",\n       ".join(
        "sum(CASE WHEN CAST(floor((strpos('{hx}', substring(h, {p}, 1)) - 1) / {div}) AS BIGINT) % 2 = 1 "
        "THEN 1 ELSE -1 END) AS b{b}".format(hx=hexpos, p=b // 4 + 1, div=2 ** (b % 4), b=b)
        for b in range(bits)
    )
    bits_concat = ", ".join(f"CASE WHEN b{b} > 0 THEN '1' ELSE '0' END" for b in range(bits))
    return f"""
WITH tk AS (SELECT doc_id, md5(tok) AS h
            FROM (SELECT doc_id, UNNEST({TOKS_SQL}) AS tok FROM documents)),
s AS (SELECT doc_id,
       {bit_sums}
      FROM tk GROUP BY doc_id)
SELECT doc_id, concat({bits_concat}) AS simhash FROM s
"""


@query("simhash_signatures", oracle=_simhash_oracle())
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash as a portable bitstring (md5-derived bits; one
    explode + one grouped aggregation). Near-dup = small Hamming distance."""
    return D.simhash64(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_DOT_Q_SQL = (
    "list_sum(list_transform(range(1, len(e.embedding) + 1), "
    "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))"
)
_SQNORM = lambda t: (  # noqa: E731
    f"list_sum(list_transform({t}.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
)

_KNN_ORACLE = f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       floor(({_DOT_Q_SQL} / (sqrt({_SQNORM('e')}) * sqrt({_SQNORM('q')}))) * 10000.0 + 0.5) / 10000.0 AS cos_sim
FROM embeddings e, q
ORDER BY cos_sim DESC, e.vec_id ASC
LIMIT 10
"""


@query("knn_cosine_top10", oracle=_KNN_ORACLE, bench=True)
def knn_cosine_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against vec_id=0's embedding. The 1-row
    query vector is fetched driver-side (a parameter, not data) and becomes
    a plan literal; scoring is JVM-side; TakeOrderedAndProject keeps k rows
    per partition. Scores are rounded before ordering for ULP-stable k."""
    e = _t(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return S.knn_brute(e.select("vec_id", "embedding"), list(qvec), k=10)


def _planes_sql() -> str:
    cols = []
    for i, p in enumerate(S.hyperplanes()):
        lit = "[" + ", ".join(repr(x) for x in p) + "]"
        cols.append(f"CAST({lit} AS DOUBLE[]) AS p{i}")
    return ", ".join(cols)


_BUCKET_SQL = "concat(" + ", ".join(
    f"CASE WHEN list_sum(list_transform(range(1, len(e.embedding) + 1), "
    f"i -> CAST(e.embedding[i] AS DOUBLE) * p.p{i}[i])) >= 0 THEN '1' ELSE '0' END"
    for i in range(S.LSH_PLANES)
) + ")"

_LSH_HIST_ORACLE = f"""
WITH p AS (SELECT {_planes_sql()}),
b AS (SELECT e.vec_id, {_BUCKET_SQL} AS bucket FROM embeddings e, p)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_vectors FROM b GROUP BY bucket
"""


@query("lsh_bucket_histogram", oracle=_LSH_HIST_ORACLE)
def lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing (seeded, literal planes — fully
    deterministic and oracle-checkable). At scale the bucket id becomes a
    partition key: ANN search prunes to one partition per probe."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select("vec_id", S.lsh_bucket(F.col("embedding")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


_ANN_LSH_ORACLE = f"""
WITH p AS (SELECT {{planes}}),
b AS (SELECT e.vec_id, e.embedding, {{bucket}} AS bucket FROM embeddings e, p),
q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = 0)
SELECT b.vec_id,
       floor((
         list_sum(list_transform(range(1, len(b.embedding) + 1),
                                 i -> CAST(b.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
       ) * 10000.0 + 0.5) / 10000.0 AS cos_sim
FROM b, q WHERE b.bucket = q.qb
ORDER BY cos_sim DESC, b.vec_id ASC
LIMIT 10
"""


@query(
    "ann_lsh_top10",
    oracle=_ANN_LSH_ORACLE.format(planes=_planes_sql(), bucket=_BUCKET_SQL),
)
def ann_lsh_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k: exact search restricted to the query's LSH bucket.
    Approximate w.r.t. global top-k (bucket recall < 1) but fully
    deterministic given the seeded planes — the oracle reproduces the
    bucket restriction and the exact in-bucket ranking."""
    e = _t(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return S.ann_lsh_topk(e.select("vec_id", "embedding"), list(qvec), k=10)


@query(
    "embedding_norms",
    oracle=f"""
SELECT vec_id,
       CAST(len(embedding) AS INT) AS dim,
       floor((sqrt({_SQNORM('embeddings')})) * 10000.0 + 0.5) / 10000.0 AS l2_norm,
       CAST(label AS INT) AS label
FROM embeddings
""",
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-column math (§2.8 array family): dims + L2 norms via
    higher-order aggregate — no UDF, no Python round-trip."""
    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").cast("int").alias("dim"),
        fxr(norm(F.col("embedding")), 4).alias("l2_norm"),
        F.col("label").cast("int").alias("label"),
    )


@query(
    "label_centroid_similarity",
    oracle="""
WITH pos AS (SELECT vec_id, label,
                    UNNEST(range(1, len(embedding) + 1)) AS pos,
                    UNNEST(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS val
             FROM embeddings),
cent AS (SELECT label, pos,
                sum(CAST(floor(val * 100000000.0 + 0.5) AS BIGINT)) / 100000000.0 / count(*) AS cval
         FROM pos GROUP BY 1, 2),
cvec AS (SELECT label, list(cval ORDER BY pos) AS centroid FROM cent GROUP BY label)
SELECT e.vec_id, e.label,
       floor((
         list_sum(list_transform(range(1, len(e.embedding) + 1),
                                 i -> CAST(e.embedding[i] AS DOUBLE) * c.centroid[i]))
         / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(c.centroid, x -> x * x))))
       ) * 10000.0 + 0.5) / 10000.0 AS centroid_cos
FROM embeddings e JOIN cvec c ON e.label = c.label
""",
)
def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped vector aggregation: per-label centroid (elementwise mean via
    posexplode + regroup), then each vector's cosine to its label centroid.
    The explode shuffles (id, pos, val) triples — scale-safe for fixed dim.
    Centroid sums run over 1e-8-quantized values in exact int64, so the
    mean is summation-order-free and the whole result is oracle-checked
    (the quantization error, <1e-8 per element, is far below the 4-place
    output rounding)."""
    e = _t(spark, sf_dir, "embeddings")
    pos = e.select("vec_id", "label", F.posexplode("embedding").alias("pos", "val"))
    centroid = (
        pos.groupBy("label", "pos")
        .agg(
            (
                F.sum(F.floor(F.col("val").cast("double") * F.lit(1e8) + F.lit(0.5)).cast("long"))
                / F.lit(1e8)
                / F.count(F.lit(1))
            ).alias("cval")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pairs"))
        .select("label", F.transform("pairs", lambda p: p["cval"]).alias("centroid"))
    )
    return (
        e.join(centroid, "label")
        .select("vec_id", "label", fxr(cosine(F.col("embedding"), F.col("centroid")), 4).alias("centroid_cos"))
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@query(
    "multimodal_blob_meta",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5,
       source AS media_source
FROM documents
""",
)
def multimodal_blob_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary-column plumbing: payload byte length + checksum +
    typed metadata. The fixture's text stands in for image/audio bytes;
    operators/multimodal.py carries the decode/feature stubs (Pandas-UDF
    mapInPandas plumbing, tested in tests/test_multimodal.py)."""
    d = _t(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return d.select(
        "doc_id",
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
        F.md5(payload).alias("payload_md5"),
        F.col("source").alias("media_source"),
    )


# ---------------------------------------------------------------------------
# Streaming
# ---------------------------------------------------------------------------


@query(
    "stream_hourly_event_rollup",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       floor((sum(value)) * 100.0 + 0.5) / 100.0 AS total_value
FROM events GROUP BY 1, 2
""",
)
def stream_hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming parity: tumbling 1-hour event-time windows with
    a watermark, run as an availableNow micro-batch drain (the reference's
    one-batch-per-S3-file model, provisioning.tf:160-167) into a memory
    sink. The batch oracle is the same rollup in plain SQL."""
    return hourly_event_rollup(spark, sf_dir)


@query(
    "source_token_entropy",
    oracle=f"""
WITH t AS (SELECT source, UNNEST({TOKS_SQL}) AS tok FROM documents),
c AS (SELECT source, tok, count(*) AS c FROM t GROUP BY 1, 2),
s AS (SELECT source,
             sum(c) AS n,
             sum(CAST(floor(c * ln(c) * 1000000.0 + 0.5) AS BIGINT)) AS clnc_q
      FROM c GROUP BY source)
SELECT source,
       CAST(n AS BIGINT) AS n_tokens,
       floor((ln(n) - (clnc_q / 1000000.0) / n) * 1000000.0 + 0.5) / 1000000.0 AS token_entropy
FROM s
""",
)
def source_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the token distribution per corpus source — the
    diversity signal a data-mixing pipeline monitors (a collapsing source
    shows falling entropy).

    Formulated on integer counts: H = ln N - (Σ c·ln c)/N, with each
    c·ln c term quantized to 1e-6 before an exact int64 sum — the
    transcendental is evaluated on identical integer inputs in both
    engines and the sum is summation-order-free, so the result is
    oracle-stable at any scale. One (source, tok) aggregation with
    map-side partials, then a source-level rollup — two shuffles total,
    both on shrinking keys."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split(T.normalized(F.col("text")), " ")).alias("tok"))
    c = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    s = c.groupBy("source").agg(
        F.sum("c").alias("n"),
        F.sum(
            F.floor(F.col("c") * F.log(F.col("c")) * F.lit(1e6) + F.lit(0.5)).cast("long")
        ).alias("clnc_q"),
    )
    return s.select(
        "source",
        F.col("n").cast("bigint").alias("n_tokens"),
        fxr(F.log("n") - (F.col("clnc_q") / F.lit(1e6)) / F.col("n"), 6).alias("token_entropy"),
    )


@query(
    "neardup_dedup_best_quality",
    oracle=_CC_BASE_SQL
    + f""",
comp AS (SELECT node, min(r) AS comp FROM reach GROUP BY node),
q AS (SELECT doc_id,
             CAST(floor((
               (CASE WHEN len(toks) BETWEEN 20 AND 10000 THEN 1.0 ELSE 0.0 END
                + CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                + least(CAST(len(list_filter(toks, t -> t IN ({_STOP_LIST_SQL}))) AS DOUBLE)
                        / len(toks) * 5, 1.0)
               ) / 3.0) * 10000.0 + 0.5) AS BIGINT) AS q_units
      FROM (SELECT doc_id, {TOKS_SQL} AS toks FROM documents))
SELECT CAST(c.comp AS BIGINT) AS component,
       arg_max(c.node, q.q_units * 1000000000 - c.node) AS kept_doc_id,
       CAST(count(*) AS BIGINT) AS cluster_size,
       max(q.q_units) / 10000.0 AS best_quality
FROM comp c JOIN q ON q.doc_id = c.node
GROUP BY c.comp
""",
)
def neardup_dedup_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: one kept doc per near-dup
    cluster, chosen by argmax quality (doc_id breaks exact ties toward
    the smaller id) instead of neardup_dedup_kept's min-id rule — the
    curation policy real pipelines want (keep the BEST duplicate, not the
    first-crawled one). Comparator is the quantized quality in integer
    1e-4 units × 1e9 − doc_id: one int64 total order shared with the
    oracle (same technique as nation_top_account_argmax).

    Scale: reuses the banded-LSH candidate pairs and connected components
    (subgraph-sized iteration), then ONE grouped max_by over (component,
    doc) rows — quality joins in by doc_id, documents' text never touches
    the component shuffle."""
    d = _t(spark, sf_dir, "documents")
    pairs = D.neardup_pairs_minhash(d)
    cc = G.connected_components(
        d.select("doc_id"), pairs, node_col="doc_id", src="doc_a", dst="doc_b"
    )
    q = d.select(
        F.col("doc_id").alias("q_doc"),
        F.floor(T.quality_score(F.col("text")) * 10_000.0 + 0.5).cast("bigint").alias("q_units"),
    )
    key = F.col("q_units") * F.lit(1_000_000_000) - F.col("node")
    return (
        cc.join(q, cc["node"] == F.col("q_doc"))
        .groupBy(F.col("comp").cast("bigint").alias("component"))
        .agg(
            F.max_by("node", key).alias("kept_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
            (F.max("q_units") / F.lit(10_000.0)).alias("best_quality"),
        )
    )


# ---------------------------------------------------------------------------
# N-gram LM perplexity quality scoring (CCNet-style)
# ---------------------------------------------------------------------------

_LM_Q = 10000.0  # log-prob quantum: 1e-4 nat (boundary-flip risk ~1e-10/bigram)


@query(
    "doc_lm_quality_scores",
    oracle=f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
       FROM t, UNNEST(range(1, len(toks))) AS u(i)
       WHERE len(toks) >= 2),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY 1),
v AS (SELECT count(DISTINCT w) AS v FROM (SELECT UNNEST(toks) AS w FROM t)),
sc AS (SELECT bg.doc_id,
              CAST(floor(ln((CAST(c2.c2 AS DOUBLE) + 1.0)
                            / (CAST(c1.c1 AS DOUBLE) + CAST(v.v AS DOUBLE)))
                         * {_LM_Q} + 0.5) AS BIGINT) AS qlp
       FROM bg JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
               JOIN c1 ON bg.w1 = c1.w1
               CROSS JOIN v)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(qlp) AS BIGINT) AS logp_sum_q,
       floor((CAST(sum(qlp) AS DOUBLE) / {_LM_Q} / count(*)) * 1000000.0 + 0.5) / 1000000.0
           AS avg_logp
FROM sc GROUP BY doc_id
""",
)
def doc_lm_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality scoring (the CCNet recipe, self-trained):
    fit a token-bigram language model with add-one smoothing on the corpus
    itself, then score every document by its average bigram
    log-probability — low scores flag boilerplate-free but incoherent text
    that length/ratio heuristics miss; high scores flag repetitive
    boilerplate. Two corpus passes: (1) bigram/prefix counts — one hash
    aggregation, with the prefix counts derived from the bigram counts
    (aggregates the already-reduced table, not the raw stream); (2) score
    join of each document's bigrams against the model — shuffle keys are
    the bigram strings, model size is corpus vocabulary, not corpus size.
    Vocabulary size (the smoothing denominator) rides along as a
    broadcast scalar, never a driver round-trip.

    Cross-engine parity: each bigram's log-prob is quantized to 1e-4 nat
    as an exact int64 BEFORE summation (same order-free integer-sum
    policy as cents_sum; ln() may differ in the last ulp between libm and
    the JVM, so the quantum is set where a boundary flip has ~1e-10
    probability per bigram), and the reported average divides two exact
    integers."""
    d = _t(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split(T.normalized(F.col("text")), " ").alias("toks")).filter(
        F.size("toks") >= 2
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.struct(
            F.element_at("toks", i).alias("w1"), F.element_at("toks", i + 1).alias("w2")
        ),
    )
    bg = t.select("doc_id", F.explode(pairs).alias("b")).select("doc_id", "b.w1", "b.w2")
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    v = (
        d.select(F.explode(F.split(T.normalized(F.col("text")), " ")).alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    p = (F.col("c2").cast("double") + F.lit(1.0)) / (
        F.col("c1").cast("double") + F.col("v").cast("double")
    )
    scored = (
        bg.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(v))
        .select("doc_id", F.floor(F.log(p) * _LM_Q + F.lit(0.5)).cast("bigint").alias("qlp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum("qlp").cast("bigint").alias("logp_sum_q"),
        fxr(F.sum("qlp").cast("double") / F.lit(_LM_Q) / F.count(F.lit(1)), 6).alias("avg_logp"),
    )


# ---------------------------------------------------------------------------
# JL random projection + shortlist-then-exact-rerank ANN
# ---------------------------------------------------------------------------

_JL_SHORTLIST = 50


def _jl_rows_sql() -> str:
    return ", ".join(
        "CAST([" + ", ".join(repr(x) for x in row) + f"] AS DOUBLE[]) AS r{j}"
        for j, row in enumerate(S.jl_matrix())
    )


def _jl_proj_sql(tbl: str) -> str:
    dims = ", ".join(
        f"list_sum(list_transform(range(1, len({tbl}.embedding) + 1),"
        f" i -> CAST({tbl}.embedding[i] AS DOUBLE) * m.r{j}[i]))"
        for j in range(S.JL_DIM)
    )
    return f"[{dims}]"


_JL_ORACLE = f"""
WITH m AS (SELECT {_jl_rows_sql()}),
q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
qp AS (SELECT {_jl_proj_sql('q')} AS pv FROM q, m),
dp AS (SELECT e.vec_id, e.embedding, {_jl_proj_sql('e')} AS pv FROM embeddings e, m),
sc AS (SELECT dp.vec_id, dp.embedding,
              floor((list_sum(list_transform(range(1, {S.JL_DIM} + 1), i -> dp.pv[i] * qp.pv[i]))
                     / (sqrt(list_sum(list_transform(dp.pv, x -> x * x)))
                        * sqrt(list_sum(list_transform(qp.pv, x -> x * x)))))
                    * 10000.0 + 0.5) / 10000.0 AS proj_cos
       FROM dp, qp),
sl AS (SELECT * FROM sc ORDER BY proj_cos DESC, vec_id ASC LIMIT {_JL_SHORTLIST})
SELECT e.vec_id, e.proj_cos,
       floor(({_DOT_Q_SQL} / (sqrt({_SQNORM('e')}) * sqrt({_SQNORM('q')}))) * 10000.0 + 0.5) / 10000.0 AS cos_sim
FROM sl AS e, q
ORDER BY cos_sim DESC, e.vec_id ASC
LIMIT 10
"""


@query("ann_jl_rerank_top10", oracle=_JL_ORACLE)
def ann_jl_rerank_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: Johnson–Lindenstrauss sign projection (64 → 16 dims,
    literal ±1 matrix) scores a cheap shortlist of {sl} candidates, then
    the full-precision embedding reranks only the shortlist — the standard
    compressed-first/exact-last retrieval pattern (same shape as PQ or
    int8 first-pass scoring). 4× fewer multiply-adds per row in the scan
    stage, and at 100 TB the projected vectors are the only thing a
    shortlist pass needs to read (store them as a sibling column; 4×
    smaller I/O).

    Plan: projection is {k} constant-folded dot products inside codegen;
    both stages end in TakeOrderedAndProject (k rows per partition, no
    global sort); the rerank reads full vectors for 50 ids only. Both
    ranking keys are quantized (1e-4) with vec_id tiebreaks, so shortlist
    membership and final order are ULP-stable and the DuckDB oracle
    reproduces them exactly."""
    e = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    qlit = F.array(*[F.lit(x).cast("double") for x in qvec])
    pv = S.jl_project(F.col("embedding"))
    qp = S.jl_project(qlit)
    short = (
        e.select(
            "vec_id",
            "embedding",
            fxr(cosine(pv, qp), 4).alias("proj_cos"),
        )
        .orderBy(F.col("proj_cos").desc(), F.col("vec_id").asc())
        .limit(_JL_SHORTLIST)
    )
    return (
        short.select(
            "vec_id",
            "proj_cos",
            fxr(cosine(F.col("embedding"), qlit), 4).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Inverted index build (postings + delta-gap encoding)
# ---------------------------------------------------------------------------

_IDX_MIN_DF = 2
_IDX_MAX_DF_FRAC = 0.2  # drop terms present in > 20% of the corpus (stopword tier)


@query(
    "phrase_inverted_index",
    oracle=f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
b AS (SELECT doc_id,
             UNNEST(list_distinct(list_transform(range(1, len(toks)),
                                                 i -> toks[i] || ' ' || toks[i + 1]))) AS phrase
      FROM t WHERE len(toks) >= 2),
n AS (SELECT count(*) AS nd FROM documents),
g AS (SELECT phrase, list_sort(list(DISTINCT doc_id)) AS postings,
             count(DISTINCT doc_id) AS df
      FROM b GROUP BY phrase)
SELECT phrase, CAST(df AS BIGINT) AS df,
       CAST(postings AS BIGINT[]) AS postings,
       CAST(list_prepend(postings[1],
                         list_transform(range(1, len(postings)),
                                        i -> postings[i + 1] - postings[i])) AS BIGINT[]) AS gaps
FROM g, n
WHERE df >= {_IDX_MIN_DF} AND df <= floor(nd * {_IDX_MAX_DF_FRAC})
""",
)
def phrase_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build over token-bigram phrases: phrase → sorted
    posting list of doc_ids, plus the delta-gap encoding (first id, then
    successive differences) that real indexes compress with
    varint/PForDelta — gaps are small where postings cluster, which is
    what makes the layout compress. The df band is corpus-relative:
    singletons carry no join value, and terms in > 20% of documents
    belong in a separate high-df (stopword) tier at scale, so the cut
    scales with the corpus instead of going empty at 10× the data.

    Scale shape: per-document phrases are deduplicated BEFORE the explode
    (array_distinct inside the row), so the shuffle carries one (phrase,
    doc_id) pair per distinct occurrence; one hash aggregation groups
    postings; sorting happens per-array inside the reduced row, never as
    a global sort; the corpus size joins in as a broadcast 1-row
    aggregate (no driver round-trip)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(T.normalized(F.col("text")), " ")
    phrases = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.concat(
                F.element_at("toks", i), F.lit(" "), F.element_at("toks", i + 1)
            ),
        )
    )
    b = (
        d.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select("doc_id", F.explode(phrases).alias("phrase"))
    )
    nd = d.agg(F.count(F.lit(1)).alias("nd"))
    g = b.groupBy("phrase").agg(
        F.array_sort(F.collect_set("doc_id")).alias("postings"),
        F.count_distinct("doc_id").cast("bigint").alias("df"),
    )
    gaps = F.concat(
        F.slice("postings", 1, 1),
        F.transform(
            F.sequence(F.lit(1), F.size("postings") - 1),
            lambda i: F.element_at("postings", i + 1) - F.element_at("postings", i),
        ),
    )
    return (
        g.crossJoin(F.broadcast(nd))
        .filter(
            (F.col("df") >= _IDX_MIN_DF)
            & (F.col("df") <= F.floor(F.col("nd") * _IDX_MAX_DF_FRAC))
        )
        .select(
            "phrase",
            "df",
            F.col("postings").cast("array<bigint>"),
            gaps.cast("array<bigint>").alias("gaps"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (query -> top documents)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("hash", "join", "batch")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_tf_sql(term: str) -> str:
    return f"len(list_filter(toks, x -> x = '{term}'))"


def _bm25_contrib_sql(term: str, i: int) -> str:
    tf = f"CAST(tf{i} AS DOUBLE)"
    idf = (
        f"(floor(ln((s.nd - s.df{i} + 0.5) / (s.df{i} + 0.5) + 1.0) * 1000000.0 + 0.5)"
        " / 1000000.0)"
    )
    denom = (
        f"({tf} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * (CAST(dl AS DOUBLE)"
        " / (CAST(s.tot AS DOUBLE) / s.nd))))"
    )
    return (
        f"CAST(floor(({idf} * ({tf} * {_BM25_K1 + 1.0}) / {denom}) * 1000000.0 + 0.5)"
        " AS BIGINT)"
    )


_BM25_ORACLE = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
d AS (SELECT doc_id, len(toks) AS dl,
             {', '.join(f'{_bm25_tf_sql(term)} AS tf{i}' for i, term in enumerate(_BM25_TERMS))}
      FROM t),
s AS (SELECT count(*) AS nd, sum(dl) AS tot,
             {', '.join(f'count(*) FILTER (tf{i} > 0) AS df{i}' for i in range(len(_BM25_TERMS)))}
      FROM d),
sc AS (SELECT d.doc_id,
              {' + '.join(_bm25_contrib_sql(term, i) for i, term in enumerate(_BM25_TERMS))}
                  AS score_q
       FROM d, s)
SELECT doc_id, CAST(score_q AS DOUBLE) / 1000000.0 AS bm25
FROM sc ORDER BY score_q DESC, doc_id ASC LIMIT 20
"""


@query("bm25_search_top20", oracle=_BM25_ORACLE)
def bm25_search_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for the fixed query {q} — the document-ranking
    complement to tfidf_top_terms' term ranking (k1={k1}, b={b}, the
    Robertson/Okapi defaults). Per-term contributions are quantized to
    exact int64 micro-units before summation (order-free, same policy as
    cents_sum), and ties break on doc_id, so the top-20 is deterministic
    and engine-exact.

    Scale shape: NO explode — term frequencies are per-row array HOFs
    (the query has 3 terms, so 3 countIf lambdas inside codegen), corpus
    statistics (N, total tokens, per-term document frequencies) reduce to
    ONE broadcast row, and the final ranking is TakeOrderedAndProject. At
    100 TB with an ad-hoc query the same two passes hold; a standing
    retrieval service would swap pass 1 for the phrase_inverted_index
    postings."""
    d0 = _t(spark, sf_dir, "documents")
    toks = F.split(T.normalized(F.col("text")), " ")
    def _eq(term):
        # NB: a 2-arg lambda would be read by the HOF as (element, index)
        return lambda x: x == term

    tf_cols = [
        F.size(F.filter(toks, _eq(t))).alias(f"tf{i}") for i, t in enumerate(_BM25_TERMS)
    ]
    d = d0.select("doc_id", F.size(toks).alias("dl"), *tf_cols)
    s = d.agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum("dl").alias("tot"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    avgdl = F.col("tot").cast("double") / F.col("nd")
    contribs = []
    for i in range(len(_BM25_TERMS)):
        tf = F.col(f"tf{i}").cast("double")
        idf = (
            F.floor(
                F.log(
                    (F.col("nd") - F.col(f"df{i}") + F.lit(0.5))
                    / (F.col(f"df{i}") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        )
        denom = tf + _BM25_K1 * (
            F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * (F.col("dl").cast("double") / avgdl)
        )
        contribs.append(
            F.floor(idf * (tf * F.lit(_BM25_K1 + 1.0)) / denom * 1e6 + F.lit(0.5)).cast("bigint")
        )
    total = contribs[0]
    for c in contribs[1:]:
        total = total + c
    return (
        d.crossJoin(F.broadcast(s))
        .select("doc_id", total.alias("score_q"))
        .orderBy(F.col("score_q").desc(), F.col("doc_id").asc())
        .limit(20)
        .select("doc_id", (F.col("score_q").cast("double") / F.lit(1e6)).alias("bm25"))
    )


# ---------------------------------------------------------------------------
# SimHash Hamming-distance pairs via pigeonhole band blocking
# ---------------------------------------------------------------------------

_SH_BANDS = 4  # 64 bits -> 4 bands of 16; d <= 3 guarantees >= 1 equal band
_SH_MAX_D = 3


def _simhash_pairs_oracle(bits: int = 64, bands: int = _SH_BANDS, max_d: int = _SH_MAX_D) -> str:
    width = bits // bands
    return f"""
WITH sig AS ({_simhash_oracle(bits)}),
bands AS (
  SELECT doc_id, g.i AS band_idx, substring(simhash, g.i * {width} + 1, {width}) AS band
  FROM sig, (SELECT UNNEST(range({bands})) AS i) g),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id)
SELECT c.doc_a, c.doc_b,
       CAST(len(list_filter(range(1, {bits + 1}),
                            i -> substring(sa.simhash, i, 1) <> substring(sb.simhash, i, 1))) AS BIGINT) AS hamming
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
WHERE len(list_filter(range(1, {bits + 1}),
                      i -> substring(sa.simhash, i, 1) <> substring(sb.simhash, i, 1))) <= {max_d}
"""


# bench flag moved to simhash128_hamming_pairs (r5): the 128-bit config wins
# at every measured scale (sf0.1: 4.8s vs 8.6s; 10x: 23.2s vs 54.2s) and the
# gap widens with corpus size - crossover data in SCALE.md.
@query("simhash_hamming_pairs", oracle=_simhash_pairs_oracle())
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs within SimHash Hamming distance 3: the
    sub-quadratic near-dup candidate path over the SimHash family
    (Manku/Jain/Sarma's pigeonhole trick, WWW'07). Split each 64-bit
    signature into 4 16-bit bands; any pair at distance <= 3 must
    agree EXACTLY on at least one band, so an equi-join per band finds
    every qualifying pair with zero false negatives, and the exact
    Hamming check then discards band-collision false positives. The
    result is therefore exactly the distance-<= 3 pair set.

    Scale: the band self-join shuffles (band_idx, 16-bit band) keys —
    never text — and runs through the shared CAP-AND-SALT pair join
    (operators/dedup.salted_pair_self_join, same machinery as the
    MinHash LSH path): 16-bit bands hold only 65,536 distinct values, so
    as the corpus grows EVERY bucket saturates and in-bucket candidate
    pairs grow ~n²/65k — the r3 bench measured 19.4× wall on 10× data
    for the unsalted join. Salting spreads each hot bucket over G²
    reducer keys; the remaining n²/2^width candidate VOLUME is governed
    by the signature-width knob (simhash_bits(bits=128) → 4×32-bit
    bands for web-scale corpora — see simhash_band_pairs). Output pairs
    are salt-invariant, so the unsalted DuckDB oracle value-checks this
    plan unchanged. The signature rides through the band join as packed
    32-bit words and the exact Hamming check (bit_count over XOR,
    whole-stage codegen) runs IN the join stage (r7) — no signature
    re-join, and only true pairs reach the distinct.
    """
    # r7: the signature frame has ONE consumer now (the packed words ride
    # through the band join; no candidate re-join) — no persist barrier,
    # the signature build fuses straight into the band stage
    sig = D.simhash64(_t(spark, sf_dir, "documents"))
    return D.simhash_band_pairs(
        sig, sig_bits=64, n_bands=_SH_BANDS, max_d=_SH_MAX_D, bucket_cap=64, salt_groups=8
    )


@query(
    "simhash128_hamming_pairs",
    oracle=_simhash_pairs_oracle(bits=128, bands=4, max_d=3),
    bench=True,
)
def simhash128_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WIDE-SIGNATURE configuration of the SimHash band join: 128-bit
    signatures over 4×32-bit bands, Hamming <= 3 — the corpus-size knob
    from simhash_hamming_pairs exercised end-to-end with its own value
    oracle. A 32-bit band keyspace holds 2^32 values vs 16-bit's 65,536,
    so random band collisions — the term that turned the 64-bit variant
    super-linear on growing corpora before salting — shrink by ~65,000×;
    this is the configuration a web-scale corpus runs. Same pigeonhole
    guarantee (d <= 3 < 4 bands ⇒ >= 1 exact band match, zero false
    negatives), same cap-and-salt physical plan, same exact Hamming
    verify; md5 supplies all 128 portable bits (32 hex digits × 4).

    Note the RESULT differs from the 64-bit query by design, not drift:
    Hamming distance over 128 bits is a finer similarity scale (a pair
    at 64-bit distance 3 may sit at 128-bit distance 7), so each width
    has its own oracle."""
    sig = D.simhash_bits(_t(spark, sf_dir, "documents"), bits=128)
    return D.simhash_band_pairs(
        sig, sig_bits=128, n_bands=4, max_d=3, bucket_cap=64, salt_groups=8
    )



# ---------------------------------------------------------------------------
# BPE merge-rule training + tokenizer application (byte-pair encoding)
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 3
_BPE_SEP = "\x1f"  # symbol separator inside the fold accumulator


def _bpe_merge_case(a_ref: str, b_ref: str) -> str:
    """Greedy left-to-right BPE merge as a fold step, valid in BOTH
    engines' lambda syntax: the accumulator is the symbol sequence joined
    by the \\x1f separator; merging appends the right symbol WITHOUT a
    separator (the merged symbol is the concatenation), which also makes
    the merged symbol ineligible to re-match as a bare left symbol —
    exactly the textbook greedy scan. The char class is built with
    chr(31) concat (constant-folded by both engines) because Spark SQL
    string literals would swallow a '\\x1f' escape into the three chars
    'x1f'."""
    return (
        "CASE WHEN regexp_extract(acc, '[^' || chr(31) || ']*$', 0) = {a} AND x = {b} "
        "THEN acc || x ELSE acc || chr(31) || x END"
    ).format(a=a_ref, b=b_ref)


def _bpe_ctes() -> str:
    """The shared vocab -> R merge rounds CTE chain (word identity kept
    through every round so the apply query can join the corpus back)."""
    parts = [
        f"""
words AS (
  SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT UNNEST({TOKS_SQL}) AS tok FROM documents)
  WHERE tok <> '' GROUP BY 1),
s0 AS (SELECT word, freq, string_split(word, '') AS syms FROM words)"""
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        parts.append(f"""
p{r} AS (SELECT syms[i] AS a, syms[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
        FROM s{r - 1}, UNNEST(range(1, len(syms))) t(i) GROUP BY 1, 2),
t{r} AS (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
s{r} AS (SELECT word, freq,
               string_split(list_reduce(syms, (acc, x) -> {_bpe_merge_case(f"t{r}.a", f"t{r}.b")}),
                            chr(31)) AS syms
        FROM s{r - 1}, t{r})""")
    return ",".join(parts)


def _bpe_oracle() -> str:
    selects = [
        f"SELECT CAST({r} AS BIGINT) AS merge_round, a AS left_sym, b AS right_sym, cnt AS pair_count FROM t{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    ]
    return "WITH " + _bpe_ctes() + "\n" + "\nUNION ALL ".join(selects)


def _bpe_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq) vocabulary — the ONE corpus-sized pass of BPE
    training (map-side-combined word count); every merge round after it
    is vocabulary-sized."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(T.tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def _bpe_train_py(words: list, freqs: list):
    """Greedy BPE merge rounds over the (word, freq) vocabulary, pure
    Python — runs inside the single-task Arrow kernels below. Returns
    (merge rows [(round, a, b, count)], per-word final symbol lists,
    aligned with ``words``).

    Semantics are the oracle CTE chain verbatim: per round, adjacent
    symbol pairs weighted by word freq (exact int sums), winner by count
    desc then (a, b) asc — Python tuple/str comparison is code-point
    order, identical to UTF8String binary order and DuckDB collation —
    and the greedy left-to-right merge scan (the merged symbol is
    ineligible to re-match as a bare left symbol, exactly the fold in
    ``_bpe_merge_case``). A round with NO pairs emits no merge row and
    EMPTIES the vocabulary (the oracle's s_r cross join against an empty
    t_r), stopping the loop."""
    syms = [list(w) for w in words]
    merges = []
    for r in range(1, _BPE_ROUNDS + 1):
        cnt: dict = {}
        for s, f in zip(syms, freqs):
            for i in range(len(s) - 1):
                k = (s[i], s[i + 1])
                cnt[k] = cnt.get(k, 0) + f
        if not cnt:
            syms = []
            break
        (a, b), c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r, a, b, c))
        nxt = []
        for s in syms:
            out = [s[0]]
            for x in s[1:]:
                if out[-1] == a and x == b:
                    out[-1] += x
                else:
                    out.append(x)
            nxt.append(out)
        syms = nxt
    return merges, syms


def _bpe_learn(spark: SparkSession, sf_dir: str):
    """BPE training as ONE corpus pass + ONE single-task Arrow stage.

    r12 (guide §5 driver round-trips, the embedding_pca_power pattern):
    the r11 shape expressed each of the 3 merge rounds as a
    vocabulary-sized aggregation + TakeOrdered(1) + broadcast cross join
    + persist — ~6 scheduler-visible jobs of fixed overhead for math on
    a vocabulary-sized frame (the 8-vs-32-core bench ratio was 0.55:
    pure per-job constants, not data). Here the (word, freq) vocabulary
    — already the output of the one corpus-sized map-side-combined
    aggregation — rides ``coalesce(1)`` into a single ``mapInArrow``
    task that runs all merge rounds in-process (``_bpe_train_py``) and
    emits the learned merge table directly; the word-level fold result
    for the apply side comes from the same trainer via its own kernel.
    At web scale the single task folds the VOCABULARY (the standard
    distributed-BPE shape: map-reduce word counting + a single trainer
    over millions of (word, freq) rows), never the corpus.

    Memory bound: each kernel's single task holds the whole vocabulary
    as Python lists (words, frequencies and per-word symbol lists), so
    its worker memory grows with the number of distinct words, not with
    the corpus, and one Python worker must fit the vocabulary.

    Returns (merges frame (merge_round, left_sym, right_sym,
    pair_count), per-word frame (word, freq, nsym) after all merges).
    Each consumer executes only its own kernel."""
    words = _bpe_words(spark, sf_dir)

    def _merges_kernel(batches):
        import pyarrow as pa

        ws, fs = [], []
        for batch in batches:
            ws.extend(batch.column(0).to_pylist())
            fs.extend(batch.column(1).to_pylist())
        merges, _ = _bpe_train_py(ws, fs)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([m[0] for m in merges], type=pa.int64()),
                pa.array([m[1] for m in merges], type=pa.string()),
                pa.array([m[2] for m in merges], type=pa.string()),
                pa.array([m[3] for m in merges], type=pa.int64()),
            ],
            names=["merge_round", "left_sym", "right_sym", "pair_count"],
        )

    def _vocab_kernel(batches):
        import pyarrow as pa

        ws, fs = [], []
        for batch in batches:
            ws.extend(batch.column(0).to_pylist())
            fs.extend(batch.column(1).to_pylist())
        _, syms = _bpe_train_py(ws, fs)
        keep = ws if syms else []
        keep_f = fs if syms else []
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(keep, type=pa.string()),
                pa.array(keep_f, type=pa.int64()),
                pa.array([len(s) for s in syms], type=pa.int64()),
            ],
            names=["word", "freq", "nsym"],
        )

    merges_df = words.coalesce(1).mapInArrow(
        _merges_kernel,
        "merge_round long, left_sym string, right_sym string, pair_count long",
    )
    vocab_df = words.coalesce(1).mapInArrow(
        _vocab_kernel, "word string, freq long, nsym long"
    )
    return merges_df, vocab_df


@query("bpe_merge_training", oracle=_bpe_oracle(), bench=True)
def bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding tokenizer TRAINING (Sennrich et al. 2016): learn
    the first 3 merge rules over the corpus. Each round counts adjacent
    symbol pairs weighted by word frequency, picks the most frequent pair
    (count desc, then lexicographic — fully deterministic), and applies it
    with the greedy left-to-right scan every BPE implementation uses.
    Emits the learned merge table.

    Scale: the corpus collapses to the (word, freq) VOCABULARY in one
    map-side-combined pass; all merge rounds then run in ONE single-task
    Arrow stage over that vocabulary (r12, see ``_bpe_learn``) — the
    standard distributed-BPE split (map-reduce word counting + a single
    trainer over the vocab, e.g. the Hugging Face tokenizers recipe),
    with zero per-round scheduler round-trips.
    """
    merges_df, _ = _bpe_learn(spark, sf_dir)
    return merges_df


_BPE_APPLY_ORACLE = f"""
WITH {_bpe_ctes()},
dtoks AS (
  SELECT doc_id, tok FROM (SELECT doc_id, UNNEST({TOKS_SQL}) AS tok FROM documents)
  WHERE tok <> ''),
j AS (SELECT d.doc_id, CAST(len(s.syms) AS BIGINT) AS nsym
      FROM dtoks d JOIN s{_BPE_ROUNDS} s ON d.tok = s.word)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ws_tokens,
       CAST(sum(nsym) AS BIGINT) AS n_bpe_symbols
FROM j GROUP BY 1
"""


@query("bpe_tokenize_apply", oracle=_BPE_APPLY_ORACLE)
def bpe_tokenize_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges back to the corpus: per document, the
    whitespace token count and the BPE symbol count after the 3 trained
    merges — the train->tokenize round trip every tokenizer pipeline
    ships, and the `tokens per document` statistic that drives context-
    window packing budgets.

    Scale: tokenization-by-vocabulary is a JOIN, not a re-fold — the
    corpus explodes to (doc, word) and equi-joins the trained per-word
    symbol table (vocab-sized; Catalyst broadcasts it when small, shuffles
    on the word key otherwise). No text re-processing happens per
    occurrence; each distinct word was folded exactly once at train time.
    """
    _, vocab = _bpe_learn(spark, sf_dir)
    sizes = vocab.select("word", F.col("nsym").cast("bigint").alias("nsym"))
    d = _t(spark, sf_dir, "documents")
    dtoks = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("word")).filter(
        F.col("word") != ""
    )
    return (
        dtoks.join(sizes, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ws_tokens"),
            F.sum("nsym").cast("bigint").alias("n_bpe_symbols"),
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (SentencePiece/Kudo 2018): seed vocab from substring
# stats, Viterbi E-step, count M-step — one exact EM refinement round.
# ---------------------------------------------------------------------------

_UG_MAXW = 16  # words longer than this are dropped (coverage rule, both engines)
_UG_MAXP = 4  # max piece length
_UG_FMIN = 5  # multi-char piece admission threshold
_UG_VCAP = 512  # multi-char vocab cap (freq desc, piece asc)
_UG_Q = 10000  # log-prob quantum: 1e-4 nats (same policy as doc_lm_quality)
_UG_NEG = -(1 << 60)  # unreachable-candidate sentinel (never wins a max)


_UG_PIECES_TAIL = """,
em AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS em_count FROM allp GROUP BY 1),
tot2 AS (SELECT CAST(sum(em_count) AS DOUBLE) AS te FROM em)
SELECT piece, em_count,
       floor(em_count / te * 1000000.0 + 0.5) / 1000000.0 AS em_prob
FROM em, tot2"""

_UG_APPLY_TAIL = f""",
wpc AS (SELECT word, CAST(count(*) AS BIGINT) AS npieces FROM allp GROUP BY 1),
dt AS (SELECT doc_id, UNNEST({TOKS_SQL}) AS word FROM documents)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(wpc.npieces) AS BIGINT) AS n_unigram_pieces
FROM dt JOIN wpc ON wpc.word = dt.word
GROUP BY doc_id"""


def _unigram_oracle(tail: str = _UG_PIECES_TAIL) -> str:
    """The full pipeline in DuckDB, with the Viterbi DP UNROLLED into one
    CTE per word position (words are capped at _UG_MAXW chars, so the
    static 16-level chain is exhaustive — same generated-SQL technique as
    _simhash_oracle's 128 bit sums)."""
    lvls = []
    for i in range(1, _UG_MAXW + 1):
        arms = " UNION ALL ".join(
            f"SELECT word, {j} AS j, best FROM d{j}"
            for j in range(max(0, i - _UG_MAXP), i)
        )
        lvls.append(
            f"""d{i} AS MATERIALIZED (
  SELECT word, best, bp FROM (
    SELECT u.word, u.best + sp.qlp AS best, sp.j AS bp,
           row_number() OVER (PARTITION BY u.word
                              ORDER BY u.best + sp.qlp DESC, sp.j) AS rn
    FROM ({arms}) u
    JOIN sp ON sp.word = u.word AND sp.j = u.j AND sp.i = {i}) WHERE rn = 1)"""
        )
    dall = " UNION ALL ".join(
        f"SELECT word, {i} AS i, bp FROM d{i}" for i in range(1, _UG_MAXW + 1)
    )
    walks = []
    for k in range(1, _UG_MAXW + 1):
        walks.append(
            f"""r{k} AS MATERIALIZED (
  SELECT r.word, r.cnt, d.bp AS pos,
         substring(r.word, d.bp + 1, r.pos - d.bp) AS piece
  FROM r{k - 1} r JOIN dall d ON d.word = r.word AND d.i = r.pos
  WHERE r.pos > 0)"""
        )
    pieces = " UNION ALL ".join(
        f"SELECT word, piece, cnt FROM r{k}" for k in range(1, _UG_MAXW + 1)
    )
    lvl_sql = ",\n".join(lvls)
    walk_sql = ",\n".join(walks)
    return f"""
WITH t AS (SELECT {TOKS_SQL} AS toks FROM documents),
w AS MATERIALIZED (SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT UNNEST(toks) AS tok FROM t)
      WHERE len(tok) >= 1 AND len(tok) <= {_UG_MAXW}
      GROUP BY 1),
spans AS MATERIALIZED (SELECT word, cnt, s.j AS j, s.i AS i,
                 substring(word, s.j + 1, s.i - s.j) AS piece
          FROM (SELECT word, cnt,
                       UNNEST(flatten(list_transform(range(0, len(word)), j ->
                         list_transform(range(j + 1, least(j + {_UG_MAXP}, len(word)) + 1),
                                        i -> {{'j': j, 'i': i}})))) AS s
                FROM w)),
pf AS MATERIALIZED (SELECT piece, CAST(sum(cnt) AS BIGINT) AS freq FROM spans GROUP BY 1),
vocab AS (SELECT piece, freq FROM pf WHERE len(piece) = 1
          UNION ALL
          SELECT piece, freq FROM (
            SELECT piece, freq,
                   row_number() OVER (ORDER BY freq DESC, piece) AS rn
            FROM pf WHERE len(piece) >= 2 AND freq >= {_UG_FMIN}) WHERE rn <= {_UG_VCAP}),
tot AS (SELECT CAST(sum(freq) AS DOUBLE) AS tf FROM vocab),
vq AS (SELECT piece,
              CAST(floor(ln(CAST(freq AS DOUBLE) / tf) * {_UG_Q}.0 + 0.5) AS BIGINT) AS qlp
       FROM vocab, tot),
sp AS MATERIALIZED (SELECT s.word, s.j, s.i, v.qlp FROM spans s JOIN vq v ON v.piece = s.piece),
d0 AS MATERIALIZED (SELECT word, CAST(0 AS BIGINT) AS best FROM w),
{lvl_sql},
dall AS MATERIALIZED ({dall}),
r0 AS MATERIALIZED (SELECT word, cnt, len(word) AS pos FROM w),
{walk_sql},
allp AS MATERIALIZED ({pieces})
{tail}
"""


def _unigram_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared train + E-step frame for both unigram-tokenizer queries:
    (word, cnt, parts) — every distinct corpus word with its count and
    Viterbi-chosen piece segmentation. The method (and the cross-engine
    parity argument) is unigram-LM tokenizer training (SentencePiece, Kudo
    ACL'18) — the OTHER tokenizer family beside BPE's merge training:
    seed a piece vocabulary from substring statistics (all 1..4-char
    substrings of the word list; every single char kept for coverage,
    multi-char pieces admitted at freq >= 5 and capped to the top 512 by
    (freq desc, piece)), assign each piece its corpus log-probability,
    Viterbi-segment every distinct word under that model (the E-step),
    and recount pieces along the chosen segmentations weighted by word
    frequency (the M-step) — one exact EM refinement round, emitting
    each chosen piece with its refreshed count and probability.

    Exactness across engines: piece log-probs are quantized to 1e-4 nats
    as int64 BEFORE the DP (the doc_lm policy — ln() may differ in the
    last ulp between libm and the JVM), so Viterbi scores are exact
    integer sums; ties break deterministically (max score, then the
    SMALLEST split point j, i.e. the longest final piece). The DuckDB
    oracle runs the IDENTICAL pipeline with the DP unrolled into one CTE
    per word position and reconstruction unrolled the same way, so a
    wrong backpointer, an off-by-one substring, or a tie broken the
    other way is a value mismatch, not a rows-only pass.

    Scale: EM over a corpus is VOCABULARY-sized work after the first
    groupBy — every word is segmented once regardless of its corpus
    frequency (counts ride as weights), the span->piece score join is
    keyed on piece strings (model-sized), and the per-word DP runs in
    one JVM `aggregate` lambda over <= 16 positions. Words longer than
    16 chars are dropped by the stated coverage rule (both engines), the
    same cap class SentencePiece's max-sentencepiece-length applies."""
    d = _t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(T.normalized(F.col("text")), " ")).alias("word"))
        .filter((F.length("word") >= 1) & (F.length("word") <= _UG_MAXW))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    spans = words.select(
        "word",
        "cnt",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(0, length(word) - 1), j -> "
                f"transform(sequence(j + 1, least(j + {_UG_MAXP}, length(word))), i -> "
                f"named_struct('j', j, 'i', i, 'piece', substring(word, j + 1, i - j)))))"
            )
        ).alias("s"),
    ).select("word", "cnt", F.col("s.j").alias("j"), F.col("s.i").alias("i"), F.col("s.piece").alias("piece"))
    pf = spans.groupBy("piece").agg(F.sum("cnt").alias("freq"))
    chars = pf.filter(F.length("piece") == 1)
    # scale-correct top-V: TakeOrderedAndProject, not a global window
    multi = (
        pf.filter((F.length("piece") >= 2) & (F.col("freq") >= _UG_FMIN))
        .orderBy(F.desc("freq"), F.asc("piece"))
        .limit(_UG_VCAP)
    )
    vocab = chars.unionByName(multi)
    tot = vocab.agg(F.sum("freq").cast("double").alias("tf"))
    vq = vocab.crossJoin(F.broadcast(tot)).select(
        "piece",
        F.floor(F.log(F.col("freq").cast("double") / F.col("tf")) * _UG_Q + F.lit(0.5))
        .cast("bigint")
        .alias("qlp"),
    )
    sp = spans.join(vq, "piece").select("word", "j", "i", "qlp")
    perword = sp.groupBy("word").agg(
        F.map_from_entries(
            F.collect_list(F.struct((F.col("j") * 32 + F.col("i")).cast("int").alias("k"), F.col("qlp")))
        ).alias("m")
    )
    wd = words.join(perword, "word")

    # Viterbi DP as SQL text (the simhash r8 lesson: big trees as one
    # parse, not thousands of py4j Column calls). Candidate for split
    # point j = i - k: best[j] + qlp(word[j..i]); greatest over structs
    # ('b', 'nj' = -j) picks max score then min j in one comparison.
    def c(k: int) -> str:
        return (
            f"IF(i >= {k}, element_at(acc.best, i - {k} + 1) + "
            f"try_element_at(m, CAST((i - {k}) * 32 + i AS INT)), CAST(NULL AS BIGINT))"
        )

    g = "greatest(" + ", ".join(
        f"named_struct('b', coalesce({c(k)}, CAST({_UG_NEG} AS BIGINT)), 'nj', {k} - i)"
        for k in range(1, _UG_MAXP + 1)
    ) + ")"
    dp = f"""
aggregate(
  sequence(1, length(word)),
  named_struct('best', array(CAST(0 AS BIGINT)), 'bp', array(-1)),
  (acc, i) -> named_struct(
     'best', concat(acc.best, array(({g}).b)),
     'bp', concat(acc.bp, array(-(({g}).nj)))),
  acc -> acc.bp)"""
    wd2 = wd.selectExpr("word", "cnt", f"{dp} AS dpbp")
    walk = f"""
aggregate(
  sequence(1, {_UG_MAXW}),
  named_struct('pos', length(word), 'parts', CAST(array() AS ARRAY<STRING>)),
  (acc, z) -> IF(acc.pos > 0,
     named_struct(
       'pos', element_at(dpbp, acc.pos + 1),
       'parts', concat(acc.parts, array(substring(word,
                  element_at(dpbp, acc.pos + 1) + 1,
                  acc.pos - element_at(dpbp, acc.pos + 1))))),
     acc),
  acc -> acc.parts)"""
    return wd2.selectExpr("word", "cnt", f"{walk} AS parts")


@query("unigram_lm_tokenizer_pieces", oracle=_unigram_oracle())
def unigram_lm_tokenizer_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING output (the M-step recount): each
    Viterbi-chosen piece with its refreshed corpus count and probability
    — one exact EM refinement round of the SentencePiece model. Method,
    determinism (1e-4-nat quantized log-probs, integer DP, smallest-
    split-point tie break), and the unrolled-CTE oracle design live on
    _unigram_segmented; this consumer explodes the chosen segmentations
    weighted by word frequency and renormalizes."""
    seg = _unigram_segmented(spark, sf_dir)
    parts = seg.select("cnt", F.explode("parts").alias("piece"))
    em = parts.groupBy("piece").agg(F.sum("cnt").cast("bigint").alias("em_count"))
    tot2 = em.agg(F.sum("em_count").cast("double").alias("te"))
    return em.crossJoin(F.broadcast(tot2)).select(
        "piece",
        "em_count",
        fxr(F.col("em_count") / F.col("te"), 6).alias("em_prob"),
    )


@query("unigram_tokenize_apply", oracle=_unigram_oracle(_UG_APPLY_TAIL))
def unigram_tokenize_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained unigram model back to the corpus: per document,
    the whitespace word count and the unigram piece count after Viterbi
    segmentation — the train->tokenize round trip (the unigram twin of
    bpe_tokenize_apply), and the `pieces per document` statistic that
    drives context-window packing budgets.

    Scale: tokenization-by-model is a JOIN, not a re-fold — each
    distinct word was Viterbi-segmented exactly once at train time; the
    corpus explodes to (doc, word) and equi-joins the vocabulary-sized
    (word -> piece count) table. Words beyond the 16-char training cap
    fall out of the join in BOTH engines (the stated coverage rule)."""
    seg = _unigram_segmented(spark, sf_dir)
    sizes = seg.select("word", F.size("parts").cast("bigint").alias("npieces"))
    d = _t(spark, sf_dir, "documents")
    dtoks = d.select(
        "doc_id", F.explode(F.split(T.normalized(F.col("text")), " ")).alias("word")
    )
    return (
        dtoks.join(sizes, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("npieces").cast("bigint").alias("n_unigram_pieces"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature-scaled source mixture (UNIMAX/mT5-style alpha sampling)
# ---------------------------------------------------------------------------

_MIX_ALPHA = 0.3
_MIX_SCALE = 1_000_000
_MIX_BUDGET = 1_000_000  # tokens per training epoch to allocate

_MIX_ORACLE = f"""
WITH tc AS (
  SELECT source, CAST(sum(len({TOKS_SQL})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1),
pw AS (
  SELECT source, n_tokens,
         CAST(floor({_MIX_SCALE}.0 * exp({_MIX_ALPHA!r} * ln(CAST(n_tokens AS DOUBLE))) + 0.5) AS BIGINT) AS qpow
  FROM tc),
tot AS (SELECT CAST(sum(qpow) AS BIGINT) AS tq FROM pw)
SELECT source, n_tokens,
       CAST(floor({_MIX_SCALE}.0 * (CAST(qpow AS DOUBLE) / CAST(tq AS DOUBLE)) + 0.5) AS BIGINT) AS q_weight,
       CAST(floor({_MIX_BUDGET}.0 * (CAST(qpow AS DOUBLE) / CAST(tq AS DOUBLE)) + 0.5) AS BIGINT) AS epoch_tokens
FROM pw, tot
"""


@query("temperature_mix_allocation", oracle=_MIX_ORACLE)
def temperature_mix_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled training-mixture allocation (the mT5/UNIMAX
    alpha-sampling recipe, alpha=0.3): per corpus source, sampling weight
    proportional to n_tokens^alpha and the resulting token budget for a
    1000000-token epoch — upweights scarce sources without letting any
    source's share collapse. Complements ``lang_mix_weights`` (uniform
    target) with the power-law target production mixtures actually use.

    Determinism: n^alpha is computed once per SOURCE (a source-cardinality
    frame), quantized to
    int BEFORE the normalizing sum, so the sum is exact integer math and
    the final ratios are IEEE-deterministic single divisions.

    Scale: one map-side-combined token-count aggregation over the corpus;
    everything after runs on the source-cardinality parameter frame.
    """
    d = _t(spark, sf_dir, "documents")
    tc = d.groupBy("source").agg(
        F.sum(F.size(T.tokens(F.col("text")))).cast("bigint").alias("n_tokens")
    )
    qpow = F.floor(
        F.lit(float(_MIX_SCALE)) * F.exp(F.lit(_MIX_ALPHA) * F.log(F.col("n_tokens").cast("double")))
        + F.lit(0.5)
    ).cast("bigint")
    pw = tc.select("source", "n_tokens", qpow.alias("qpow"))
    tot = pw.agg(F.sum("qpow").cast("bigint").alias("tq"))
    ratio = F.col("qpow").cast("double") / F.col("tq").cast("double")
    return pw.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.floor(F.lit(float(_MIX_SCALE)) * ratio + F.lit(0.5)).cast("bigint").alias("q_weight"),
        F.floor(F.lit(float(_MIX_BUDGET)) * ratio + F.lit(0.5)).cast("bigint").alias("epoch_tokens"),
    )


# ---------------------------------------------------------------------------
# Deterministic token-dropout augmentation
# ---------------------------------------------------------------------------

_AUG_DROP_MOD = 10  # drop ~1/10 tokens

_AUG_ORACLE = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
kept AS (
  SELECT doc_id, len(toks) AS n_orig,
         list_filter(toks, (x, i) ->
            CAST(('0x' || substring(md5('aug1|' || CAST(doc_id AS VARCHAR) || '|' || CAST(i AS VARCHAR) || '|' || x), 1, 6)) AS BIGINT)
              % {_AUG_DROP_MOD} <> 0) AS ktoks
  FROM t)
SELECT doc_id, CAST(n_orig AS BIGINT) AS n_orig,
       CAST(len(ktoks) AS BIGINT) AS n_kept,
       array_to_string(ktoks, ' ') AS aug_text
FROM kept
"""


@query("token_dropout_augmentation", oracle=_AUG_ORACLE)
def token_dropout_augmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data augmentation by token dropout: rebuild each document with
    ~1/10 of tokens deleted, the cheap text-perturbation used to grow
    robust training sets. The drop decision is the repo's portable
    md5(salt|doc|position|token) gate, so the augmented corpus is
    REPRODUCIBLE — rerunning the pipeline (or re-partitioning the input)
    regenerates byte-identical augmentations, which is what makes
    augmented data cacheable and diffable at 100 TB.

    Scale: fully row-local (one higher-order filter inside codegen, no
    shuffle at all); both engines index tokens with the lambda's (value,
    index) form.
    """
    d = _t(spark, sf_dir, "documents")
    t = d.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    kept = t.select(
        "doc_id",
        F.size("toks").alias("n_orig"),
        F.expr(
            "filter(toks, (x, i) -> CAST(conv(substring(md5(CAST("
            # Spark's lambda index is 0-based, DuckDB's is 1-based — align on 1-based
            f"concat('aug1|', CAST(doc_id AS STRING), '|', CAST(i + 1 AS STRING), '|', x)"
            f" AS BINARY)), 1, 6), 16, 10) AS BIGINT) % {_AUG_DROP_MOD} != 0)"
        ).alias("ktoks"),
    )
    return kept.select(
        "doc_id",
        F.col("n_orig").cast("bigint").alias("n_orig"),
        F.size("ktoks").cast("bigint").alias("n_kept"),
        F.array_join("ktoks", " ").alias("aug_text"),
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit over the token distribution
# ---------------------------------------------------------------------------

_ZIPF_TOP = 1000
_ZIPF_SCALE = 1_000_000

_ZIPF_ORACLE = f"""
WITH tf AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT UNNEST({TOKS_SQL}) AS tok FROM documents)
  WHERE tok <> '' GROUP BY 1),
ranked AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, tok ASC) AS rnk FROM tf),
pts AS (
  SELECT CAST(floor({_ZIPF_SCALE}.0 * ln(CAST(rnk AS DOUBLE)) + 0.5) AS BIGINT) AS qx,
         CAST(floor({_ZIPF_SCALE}.0 * ln(CAST(freq AS DOUBLE)) + 0.5) AS BIGINT) AS qy
  FROM ranked WHERE rnk <= {_ZIPF_TOP}),
m AS (
  SELECT {ols.moments_sql()}
  FROM pts)
SELECT n AS n_ranks,
       {ols.q_slope_sql(_ZIPF_SCALE)} AS q_slope
FROM m
"""


@query("zipf_token_fit", oracle=_ZIPF_ORACLE)
def zipf_token_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the token distribution: OLS slope of ln(freq) on
    ln(rank) over the top 1000 token ranks — the corpus-health diagnostic
    (natural text sits near slope -1; heavily duplicated or synthetic
    corpora drift away). Log points are quantized to 1e-6 integers before
    the moment sums, so the regression inputs are exact; the one
    closed-form division is IEEE-deterministic with the same
    parenthesization on both engines.

    Scale: one map-side-combined token count; the rank window runs on the
    vocabulary (not the corpus) and the top-1000 cut bounds the regression
    frame to a constant.
    """
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    ranked = tf.select(
        "freq", F.row_number().over(Window.orderBy(F.col("freq").desc(), F.col("tok").asc())).alias("rnk")
    ).filter(F.col("rnk") <= _ZIPF_TOP)
    qln = lambda c: F.floor(F.lit(float(_ZIPF_SCALE)) * F.log(c.cast("double")) + F.lit(0.5)).cast(
        "bigint"
    )
    pts = ranked.select(qln(F.col("rnk")).alias("qx"), qln(F.col("freq")).alias("qy"))
    # shared quantized-moment OLS kernel (functions/ols.py): exact int64
    # moments, one closed-form division, NULL (not NaN) on a degenerate
    # <=1-distinct-token corpus — both engines move in lockstep
    m = pts.agg(*ols.moments())
    return m.select(
        F.col("n").alias("n_ranks"),
        ols.q_slope(_ZIPF_SCALE).alias("q_slope"),
    )


_HEAPS_CUTS = 10

_HEAPS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, UNNEST({TOKS_SQL}) AS tok FROM documents)
  WHERE tok <> ''),
mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS mid FROM documents),
cuts AS (SELECT k, CAST(floor(mx.mid * k / {_HEAPS_CUTS}.0) AS BIGINT) AS thr
         FROM mx CROSS JOIN (SELECT UNNEST(range(1, {_HEAPS_CUTS} + 1)) AS k)),
firstdoc AS (SELECT tok, CAST(min(doc_id) AS BIGINT) AS fd FROM toks GROUP BY 1),
doclen AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1),
vocab AS (SELECT c.k, CAST(count(*) AS BIGINT) AS cum_vocab
          FROM cuts c JOIN firstdoc f ON f.fd <= c.thr GROUP BY 1),
total AS (SELECT c.k, CAST(sum(d.n) AS BIGINT) AS cum_tokens
          FROM cuts c JOIN doclen d ON d.doc_id <= c.thr GROUP BY 1),
pts AS (SELECT t.k, t.cum_tokens, v.cum_vocab,
               CAST(floor(ln(t.cum_tokens) * {_ZIPF_SCALE}.0 + 0.5) AS BIGINT) AS qx,
               CAST(floor(ln(v.cum_vocab) * {_ZIPF_SCALE}.0 + 0.5) AS BIGINT) AS qy
        FROM total t JOIN vocab v USING (k)),
m AS (SELECT {ols.moments_sql()}
      FROM pts)
SELECT p.k AS cut_k, p.cum_tokens, p.cum_vocab,
       {ols.q_slope_sql(_ZIPF_SCALE, n="m.n", sx="m.sx", sy="m.sy", sxx="m.sxx", sxy="m.sxy")} AS q_heaps_beta
FROM pts p CROSS JOIN m
"""


@query("heaps_vocab_growth", oracle=_HEAPS_ORACLE)
def heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth — the companion corpus diagnostic to
    zipf_token_fit: cumulative distinct-token count against cumulative
    token count at 10 doc-id prefix cuts, with the log-log OLS slope
    (the Heaps beta; natural corpora sit near 0.4-0.6 — beta drifting
    toward 0 means the corpus has stopped contributing new vocabulary,
    i.e. more data is re-treading the same content, the
    diminishing-returns alarm for continued crawling). A token counts
    toward a cut's vocabulary iff its FIRST document (min doc_id) is
    within the cut, so each prefix's distinct count is exact without
    re-scanning per cut. Log points quantize to 1e-6 integers before
    the moment sums (the zipf/dsir pattern); the closed-form slope is
    one deterministic division.

    Scale: ONE token scan (r12): per-doc length is a row-local
    size(toks) projection and first-doc is one map-side-combined
    aggregation over the per-doc distinct token stream, + a 10-row
    broadcast inequality join against the cuts — O(vocab + docs), never
    O(corpus x cuts)."""
    d = _t(spark, sf_dir, "documents")
    # r12: ONE tokenize — the r11 shape tokenized + exploded the corpus
    # twice (once per aggregation leg). Doc length is row-local
    # (size(toks), no explode, no shuffle at all for that leg — the
    # tfidf_top_terms pattern), and first-doc aggregates the per-doc
    # DISTINCT token stream (array_distinct row-side shrinks the shuffle
    # by the per-doc repetition factor; min over per-doc distinct ==
    # min over occurrences). Zero-token docs are filtered (n > 0) so the
    # cut join sees exactly the oracle's doclen rows.
    ta = d.select(
        "doc_id",
        F.filter(T.tokens(F.col("text")), lambda t: t != "").alias("toks"),
    )
    cuts = d.agg(F.max("doc_id").cast("bigint").alias("mid")).select(
        F.explode(F.sequence(F.lit(1), F.lit(_HEAPS_CUTS))).alias("k"), "mid"
    ).select(
        "k", F.floor(F.col("mid") * F.col("k") / float(_HEAPS_CUTS)).cast("bigint").alias("thr")
    )
    firstdoc = (
        ta.select("doc_id", F.explode(F.array_distinct("toks")).alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").cast("bigint").alias("fd"))
    )
    doclen = ta.select(
        "doc_id", F.size("toks").cast("bigint").alias("n")
    ).filter(F.col("n") > 0)
    vocab = (
        firstdoc.join(F.broadcast(cuts), F.col("fd") <= F.col("thr"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cum_vocab"))
    )
    total = (
        doclen.join(F.broadcast(cuts), F.col("doc_id") <= F.col("thr"))
        .groupBy("k")
        .agg(F.sum("n").cast("bigint").alias("cum_tokens"))
    )
    qln = lambda c: F.floor(
        F.log(c.cast("double")) * F.lit(float(_ZIPF_SCALE)) + F.lit(0.5)
    ).cast("bigint")
    pts = total.join(vocab, "k").select(
        "k", "cum_tokens", "cum_vocab",
        qln(F.col("cum_tokens")).alias("qx"), qln(F.col("cum_vocab")).alias("qy"),
    )
    # shared quantized-moment OLS kernel (functions/ols.py): NULL beta
    # (not NaN) on a degenerate corpus where every cut is identical
    m = pts.agg(*ols.moments())
    return pts.crossJoin(F.broadcast(m)).select(
        F.col("k").alias("cut_k"),
        F.col("cum_tokens"),
        F.col("cum_vocab"),
        ols.q_slope(_ZIPF_SCALE).alias("q_heaps_beta"),
    )


# ---------------------------------------------------------------------------
# Flesch readability scoring
# ---------------------------------------------------------------------------

_FLESCH_SCALE = 10_000

_FLESCH_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text, {TOKS_SQL} AS toks FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
         CAST(list_sum(list_transform(toks,
              w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1))) AS BIGINT) AS n_syllables
  FROM t)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CAST(floor({_FLESCH_SCALE}.0 * (206.835
              - (1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)))
              - (84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)))) + 0.5) AS BIGINT) AS q_flesch
FROM m
"""


@query("doc_readability_scores", oracle=_FLESCH_ORACLE)
def doc_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the classic readability screen
    in text-curation stacks (e.g. alongside length/stopword quality
    gates): 206.835 - 1.015·(words/sentences) - 84.6·(syllables/word),
    with syllables approximated by vowel-group runs (min 1 per word) and
    sentences by terminal-punctuation runs (min 1) — the standard
    dictionary-free approximation. The three counts are exact integers;
    the score is one fixed-parenthesization double expression quantized
    at 1e-4, so both engines agree bit-for-bit.

    Scale: fully row-local (regexp counts + one higher-order sum inside
    codegen), no shuffle."""
    d = _t(spark, sf_dir, "documents")
    m = d.select(
        "doc_id",
        T.token_count(F.col("text")).cast("bigint").alias("n_words"),
        F.greatest(F.regexp_count(F.col("text"), F.lit("[.!?]+")), F.lit(1))
        .cast("bigint")
        .alias("n_sentences"),
        F.expr(
            "aggregate(transform(split(lower(trim(regexp_replace(text, '\\\\s+', ' '))), ' '),"
            " w -> greatest(regexp_count(w, '[aeiouy]+'), 1)), 0L, (a, x) -> a + CAST(x AS BIGINT))"
        ).alias("n_syllables"),
    )
    return m.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.floor(
            F.lit(float(_FLESCH_SCALE))
            * (
                F.lit(206.835)
                - (F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sentences").cast("double")))
                - (F.lit(84.6) * (F.col("n_syllables").cast("double") / F.col("n_words").cast("double")))
            )
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("q_flesch"),
    )


# ---------------------------------------------------------------------------
# Skip-gram co-occurrence + PMI (embedding-training pair extraction)
# ---------------------------------------------------------------------------

_SG_WINDOW = 2
_SG_MIN_COUNT = 5
_SG_TOP = 50
_SG_SCALE = 1_000_000

_SG_ORACLE = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
pairs AS (
  SELECT toks[i] AS w, toks[i + o] AS c
  FROM t, UNNEST(range(1, len(toks) + 1)) p(i), UNNEST(range(1, {_SG_WINDOW} + 1)) q(o)
  WHERE i + o <= len(toks) AND toks[i] <> '' AND toks[i + o] <> ''),
cxy AS (SELECT w, c, CAST(count(*) AS BIGINT) AS n_pairs FROM pairs GROUP BY 1, 2),
tot AS (SELECT CAST(count(*) AS BIGINT) AS tp FROM pairs),
uni AS (SELECT tok AS w, CAST(count(*) AS BIGINT) AS n FROM
          (SELECT UNNEST({TOKS_SQL}) AS tok FROM documents) WHERE tok <> '' GROUP BY 1),
utot AS (SELECT CAST(sum(n) AS BIGINT) AS u FROM uni),
pmi AS (
  SELECT x.w, x.c, x.n_pairs,
         CAST(floor({_SG_SCALE}.0 * ln((CAST(x.n_pairs AS DOUBLE) * (CAST(ut.u AS DOUBLE) * CAST(ut.u AS DOUBLE)))
                    / (CAST(t2.tp AS DOUBLE) * (CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)))) + 0.5) AS BIGINT) AS q_pmi
  FROM cxy x JOIN uni a ON a.w = x.w JOIN uni b ON b.w = x.c, tot t2, utot ut
  WHERE x.n_pairs >= {_SG_MIN_COUNT})
SELECT w, c, n_pairs, q_pmi FROM pmi
ORDER BY q_pmi DESC, w ASC, c ASC LIMIT {_SG_TOP}
"""


@query("skipgram_pmi_pairs", oracle=_SG_ORACLE)
def skipgram_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) pair extraction with PMI scoring — the
    pair-counting pass at the bottom of word2vec/GloVe-style embedding
    training: forward context window of 2 tokens, pair and unigram
    counts, PMI = ln(P(x,y) / (P(x)P(y))) on the counts, top 50 pairs
    above the min-count floor (PMI without a floor just surfaces rare
    noise). The ln runs once per surviving pair on exact-integer inputs
    with fixed parenthesization — bit-stable across engines.

    Scale: pair generation is a row-local higher-order expansion (window
    size × tokens, linear — never a positions self-join), counts are
    map-side combined on (w, c), and the corpus totals ride along as
    1-row broadcasts. The top-50 is TakeOrderedAndProject-sized.
    """
    d = _t(spark, sf_dir, "documents")
    t = d.select(T.tokens(F.col("text")).alias("toks"))
    pairs = t.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, size(toks)),"
                f" i -> filter(transform(sequence(1, {_SG_WINDOW}),"
                " o -> IF(i + o <= size(toks) AND element_at(toks, i) != ''"
                " AND element_at(toks, i + o) != '',"
                " struct(element_at(toks, i) AS w, element_at(toks, i + o) AS c), NULL)),"
                " s -> s IS NOT NULL)))"
            )
        ).alias("p")
    ).select("p.w", "p.c")
    cxy = pairs.groupBy("w", "c").agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    tot = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("tp"))
    uni = (
        d.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy(F.col("tok").alias("uw"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    utot = uni.agg(F.sum("n").cast("bigint").alias("u"))
    joined = (
        cxy.filter(F.col("n_pairs") >= _SG_MIN_COUNT)
        .join(uni.select(F.col("uw").alias("w"), F.col("n").alias("na")), "w")
        .join(uni.select(F.col("uw").alias("c"), F.col("n").alias("nb")), "c")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(utot))
    )
    q_pmi = F.floor(
        F.lit(float(_SG_SCALE))
        * F.log(
            (F.col("n_pairs").cast("double") * (F.col("u").cast("double") * F.col("u").cast("double")))
            / (F.col("tp").cast("double") * (F.col("na").cast("double") * F.col("nb").cast("double")))
        )
        + F.lit(0.5)
    ).cast("bigint")
    return (
        joined.select("w", "c", "n_pairs", q_pmi.alias("q_pmi"))
        .orderBy(F.col("q_pmi").desc(), F.col("w").asc(), F.col("c").asc())
        .limit(_SG_TOP)
    )


# ---------------------------------------------------------------------------
# Word-trigram novelty (corpus-uniqueness screen)
# ---------------------------------------------------------------------------

_NOV_SCALE = 1_000_000

_NOVELTY_ORACLE = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
tri AS (
  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS tg
  FROM t, UNNEST(range(1, len(toks) - 1)) p(i)),
dfq AS (SELECT tg, CAST(count(*) AS BIGINT) AS df FROM tri GROUP BY 1)
SELECT tri.doc_id,
       CAST(count(*) AS BIGINT) AS n_trigrams,
       CAST(sum(CASE WHEN dfq.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(floor({_NOV_SCALE}.0 * (CAST(sum(CASE WHEN dfq.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE)) + 0.5) AS BIGINT) AS q_novelty
FROM tri JOIN dfq USING (tg)
GROUP BY 1
"""


@query("doc_trigram_novelty", oracle=_NOVELTY_ORACLE)
def doc_trigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the share of a document's distinct word
    trigrams that appear in NO other document — the corpus-uniqueness
    screen that separates boilerplate/template pages (novelty ~ 0) from
    original text, used alongside dedup when deciding what to keep. A
    trigram with document frequency 1 is novel by definition, so the
    metric needs no similarity threshold.

    Scale: distinct (doc, trigram) pairs are one row-local higher-order
    expansion + combine-aggregated distinct; the df table aggregates on
    the trigram key and joins back on that same key (both sides already
    partitioned by it — single shuffle chain, no text re-movement: the
    trigram string is the join key and never fans out)."""
    d = _t(spark, sf_dir, "documents")
    tri = (
        d.select("doc_id", T.tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            # guard the expansion: sequence(1, size-2) on a <3-token doc
            # yields a DESCENDING [1, 0] (not an empty array), and the
            # out-of-range element_at then throws under ANSI mode — the
            # explicit empty-array branch matches the oracle's empty
            # range(1, len-1) semantics for short docs (ADVICE r03)
            F.explode(
                F.expr(
                    "if(size(toks) < 3, array(),"
                    " transform(sequence(1, size(toks) - 2),"
                    " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2))))"
                )
            ).alias("tg"),
        )
        .distinct()
    )
    dfq = tri.groupBy("tg").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    novel = F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).cast("bigint")
    return (
        tri.join(dfq, "tg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_trigrams"),
            novel.alias("n_novel"),
            F.floor(
                F.lit(float(_NOV_SCALE))
                * (
                    F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).cast("double")
                    / F.count(F.lit(1)).cast("double")
                )
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("q_novelty"),
        )
    )


# ---------------------------------------------------------------------------
# TF-IDF cosine document pairs via capped posting lists
# ---------------------------------------------------------------------------

_TC_DF_CAP = 50  # terms in more than this many docs are stopped out
_TC_IDF_SCALE = 1_000  # idf quantization (kept small: contributions stay in int64)
_TC_MIN_COS2 = 250_000_000_000  # 1e12 * 0.25 -> cosine >= 0.5


def _tc_oracle() -> str:
    return f"""
WITH t AS (SELECT doc_id, UNNEST({TOKS_SQL}) AS tok FROM documents),
tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM t WHERE tok <> '' GROUP BY 1, 2),
dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
w AS (SELECT tf.doc_id, tf.tok, tf.c,
             CAST(floor({_TC_IDF_SCALE}.0 * ln((nd + 1.0) / (df + 1.0)) + 0.5) AS BIGINT) AS qidf
      FROM tf JOIN dfq USING (tok) CROSS JOIN nn
      WHERE dfq.df BETWEEN 2 AND {_TC_DF_CAP}),
norms AS (SELECT doc_id, CAST(sum(c * c * qidf * qidf) AS BIGINT) AS nrm FROM w GROUP BY 1),
num AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(sum(a.c * b.c * a.qidf * a.qidf) AS BIGINT) AS num
        FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
sc AS (SELECT n.doc_a, n.doc_b,
              CAST(floor(1000000000000.0 * ((CAST(n.num AS DOUBLE) * CAST(n.num AS DOUBLE))
                         / (CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)))) AS BIGINT) AS q_cos2
       FROM num n JOIN norms na ON na.doc_id = n.doc_a JOIN norms nb ON nb.doc_id = n.doc_b)
SELECT doc_a, doc_b, q_cos2 FROM sc WHERE q_cos2 >= {_TC_MIN_COS2}
"""


@query("tfidf_cosine_pairs", oracle=_tc_oracle(), bench=True)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs with TF-IDF cosine >= 0.5, computed the
    inverted-index way: per-term posting lists joined term-by-term, with
    terms appearing in more than 50 documents STOPPED OUT — the
    common-term cutoff that bounds every posting list (and with it the
    candidate-pair fan-out) while barely moving the score, the standard
    trick in index-based similarity joins (the vector is defined over
    the surviving discriminative terms; norms use the same terms so the
    cosine stays a true cosine). Scores are squared into exact-integer
    numerators over exact-integer norms (the recommender's cosine² idiom)
    so ranking and thresholding are bit-stable.

    Scale: the posting join shuffles (term, doc, count) triples with
    per-term fan-out <= 50² — never all-pairs; the df filter is the
    A-Priori-style candidate bound. Norms are one combine-aggregated
    pass over the same weighted postings.
    """
    d = _t(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok")).filter(
        F.col("tok") != ""
    )
    tf = t.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    dfq = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    nn = d.agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    w = (
        tf.join(dfq, "tok")
        .filter((F.col("df") >= 2) & (F.col("df") <= _TC_DF_CAP))
        .crossJoin(F.broadcast(nn))
        .select(
            "doc_id",
            "tok",
            "c",
            F.floor(
                F.lit(float(_TC_IDF_SCALE))
                * F.log((F.col("nd") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("qidf"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("c") * F.col("c") * F.col("qidf") * F.col("qidf")).cast("bigint").alias("nrm")
    )
    a, b = w.alias("a"), w.alias("b")
    num = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.sum(F.col("a.c") * F.col("b.c") * F.col("a.qidf") * F.col("a.qidf"))
            .cast("bigint")
            .alias("num")
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    return (
        num.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.floor(
                F.lit(1e12)
                * ((F.col("num").cast("double") * F.col("num").cast("double"))
                   / (F.col("na").cast("double") * F.col("nb").cast("double")))
            )
            .cast("bigint")
            .alias("q_cos2"),
        )
        .filter(F.col("q_cos2") >= _TC_MIN_COS2)
    )


# ---------------------------------------------------------------------------
# FastSS edit-distance vocabulary pairs (deletion-neighborhood blocking)
# ---------------------------------------------------------------------------

_ED_MIN_LEN = 4
_ED_MIN_FREQ = 2
_ED_MAX_D = 2  # report pairs at Levenshtein distance <= 2

# all strings obtainable by deleting 0, 1, or 2 positions — FastSS's U_2
# neighborhood: ed(a, b) <= 2 implies the neighborhoods intersect (delete
# the edited positions from each side), so the variant equi-join has zero
# false negatives and the exact levenshtein re-check removes collisions
_ED_VARS_DUCK = """
list_concat(list_concat([word],
  list_transform(range(1, length(word) + 1),
                 i -> left(word, i - 1) || substring(word, i + 1, 1000))),
  flatten(list_transform(range(1, length(word) + 1),
    i -> list_transform(range(i + 1, length(word) + 1),
      j -> left(word, i - 1) || substring(word, i + 1, j - i - 1) || substring(word, j + 1, 1000)))))
"""

_ED_VARS_SPARK = """
concat(concat(array(word),
  transform(sequence(1, length(word)),
            i -> concat(left(word, i - 1), substring(word, i + 1, 1000)))),
  flatten(transform(sequence(1, length(word)),
    i -> transform(sequence(i + 1, length(word)),
      j -> concat(left(word, i - 1), substring(word, i + 1, j - i - 1), substring(word, j + 1, 1000))))))
"""

_ED_ORACLE = f"""
WITH vocab AS (
  SELECT tok AS word FROM (SELECT UNNEST({TOKS_SQL}) AS tok FROM documents)
  WHERE length(tok) >= {_ED_MIN_LEN} GROUP BY 1 HAVING count(*) >= {_ED_MIN_FREQ}),
vars AS (
  SELECT DISTINCT word, v FROM vocab, UNNEST({_ED_VARS_DUCK}) t(v)),
cand AS (
  SELECT DISTINCT a.word AS word_a, b.word AS word_b
  FROM vars a JOIN vars b ON a.v = b.v AND a.word < b.word)
SELECT word_a, word_b, CAST(levenshtein(word_a, word_b) AS BIGINT) AS dist
FROM cand WHERE levenshtein(word_a, word_b) <= {_ED_MAX_D}
"""


@query("vocab_edit_distance_pairs", oracle=_ED_ORACLE)
def vocab_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All vocabulary word pairs at Levenshtein distance <= 2, found
    with FastSS deletion-neighborhood blocking (Bocek et al. 2007): index
    each word under every string reachable by deleting up to 2
    positions; any pair within distance 2 MUST share an index key
    (delete the edited positions from both sides of the alignment), so
    the variant equi-join finds every pair with zero false negatives and
    the exact levenshtein check discards hash-free collisions. The
    typo-clustering / spell-normalization step of vocabulary cleanup,
    done without any all-pairs distance matrix.

    Scale: the variant index is O(|word|^2) short strings per vocab
    entry (row-local transform, deduped per word); the self-join
    shuffles variant-keyed rows with bucket sizes bounded by how many
    words share a deletion — the same blocking discipline as the
    LSH/band joins — and the quadratic verify runs only on candidate
    pairs. The length >= 4, freq >= 2 floors keep noise tokens out
    of the index.
    """
    d = _t(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(T.tokens(F.col("text"))).alias("word"))
        .filter(F.length("word") >= _ED_MIN_LEN)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= _ED_MIN_FREQ)
        .select("word")
    )
    vars_ = vocab.select("word", F.explode(F.expr(_ED_VARS_SPARK)).alias("v")).distinct()
    a, b = vars_.alias("a"), vars_.alias("b")
    cand = (
        a.join(b, (F.col("a.v") == F.col("b.v")) & (F.col("a.word") < F.col("b.word")))
        .select(F.col("a.word").alias("word_a"), F.col("b.word").alias("word_b"))
        .distinct()
    )
    return cand.select(
        "word_a", "word_b", F.levenshtein("word_a", "word_b").cast("bigint").alias("dist")
    ).filter(F.col("dist") <= _ED_MAX_D)


# ---------------------------------------------------------------------------
# Incremental near-dup ingest: new batch vs existing corpus only
# ---------------------------------------------------------------------------

_INC_ORACLE = f"""
{_SHINGLES_SQL},
sig AS (SELECT doc_id, {_minhash_sql()} FROM sh),
bands AS ({_BAND_SELECTS})
SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS old_doc
FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
"""


@query("neardup_incremental_pairs", oracle=_INC_ORACLE)
def neardup_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup ingest: LSH candidates between a new ingest
    batch (doc_id % 10 = 0 stands in for today's arrivals) and the
    EXISTING corpus only — the asymmetric band join every production
    dedup pipeline runs daily: new-vs-old, never old-vs-old (that work
    was already done when the old docs arrived). The new batch's band
    index is built fresh; the corpus side is exactly the persisted band
    index a real pipeline keeps materialized between runs.

    Scale: cost is |new| x bucket-collision rate, independent of corpus
    re-pairing — the property that makes daily dedup of a growing 100 TB
    corpus O(daily batch), not O(corpus). Hot buckets take the same
    cap-and-salt remedy as the batch path."""
    d = _t(spark, sf_dir, "documents")
    exploded = D.minhash_band_rows(d)
    new = exploded.filter(F.col("doc_id") % 10 == 0).alias("a")
    old = exploded.filter(F.col("doc_id") % 10 != 0).alias("b")
    return (
        new.join(old, ["band", "key"])
        .select(F.col("a.doc_id").alias("new_doc"), F.col("b.doc_id").alias("old_doc"))
        .distinct()
    )


def _snap_incdedup(spark: SparkSession, sf_dir: str) -> str:
    """Stage the documents snapshot table the incremental queries share
    and return its path: v1 is the existing corpus (doc_id % 10 != 0),
    v2 appends today's batch (% 10 == 0)."""
    from fraud_detection_etl_project_spark import snapshot as snap

    def build(t: str) -> None:
        d = _t(spark, sf_dir, "documents").select("doc_id", "text")
        snap.overwrite(d.filter(F.col("doc_id") % 10 != 0), t)  # v1: corpus
        snap.append(d.filter(F.col("doc_id") % 10 == 0), t)     # v2: today

    return staged(sf_dir, "snap_incdedup", ("documents",), build)


@query("snapshot_incremental_dedup_pairs", oracle=_INC_ORACLE)
def snapshot_incremental_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL dedup path driven OFF THE TABLE FORMAT (round 9
    integration): the documents corpus lives in a snapshot table — v1
    is the existing corpus (doc_id % 10 != 0), v2 APPENDS today's batch
    (% 10 == 0) — and the daily dedup job discovers its input via the
    CHANGE FEED (``read_changes(from_version=1)`` = exactly the new
    files' rows, a manifest diff, never a table scan) while the corpus
    side reads the PRE-APPEND version. The asymmetric band join is then
    identical to ``neardup_incremental_pairs``, and so is the DuckDB
    oracle — proving the feed-fed path is byte-identical to the
    fixture-fed path.

    Scale: this is the production wiring — the ingest commit itself
    names the day's rows (no "which docs are new?" bookkeeping column,
    no full-corpus re-scan), time travel pins the corpus side to a
    consistent version while ingest continues, and the join cost stays
    O(new batch x collision rate)."""
    from fraud_detection_etl_project_spark import snapshot as snap

    t = _snap_incdedup(spark, sf_dir)
    new_docs = snap.read_changes(spark, t, from_version=1).select("doc_id", "text")
    corpus = snap.read(spark, t, version=1).select("doc_id", "text")
    return (
        D.minhash_band_rows(new_docs).alias("a")
        .join(D.minhash_band_rows(corpus).alias("b"), ["band", "key"])
        .select(F.col("a.doc_id").alias("new_doc"), F.col("b.doc_id").alias("old_doc"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Cross-source duplicate contamination matrix
# ---------------------------------------------------------------------------

_XSRC_ORACLE = f"""
{_SHINGLES_SQL},
sig AS (SELECT doc_id, {_minhash_sql()} FROM sh),
bands AS ({_BAND_SELECTS}),
pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_dup_pairs
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
GROUP BY 1, 2
"""


@query("cross_source_dup_matrix", oracle=_XSRC_ORACLE)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: near-dup candidate pair counts
    aggregated by unordered source pair — the curation readout that
    tells you WHERE duplication comes from (mirror sites, cross-posted
    content, a scraper that ingested the same dump twice) and which
    source to drop when clusters collapse. Diagonal entries are
    within-source duplication; off-diagonal are cross-contamination.

    Scale: reuses the LSH band join (never all-pairs); the source
    attribution joins ship only (doc_id, source) and the output is
    source² rows."""
    d = _t(spark, sf_dir, "documents")
    pairs = D.neardup_pairs_minhash(d)
    src = d.select("doc_id", "source")
    return (
        pairs.join(src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "sa"), "doc_a")
        .join(src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "sb"), "doc_b")
        .groupBy(
            F.least(F.col("sa"), F.col("sb")).alias("source_a"),
            F.greatest(F.col("sa"), F.col("sb")).alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"))
    )


# ---------------------------------------------------------------------------
# C4-style sub-document (segment-level) exact dedup
# ---------------------------------------------------------------------------

_SEG = 10  # tokens per segment (C4 dedups three-sentence spans; the synthetic
#            corpus has no sentence boundaries, so fixed 10-token spans play
#            that role)

_SEGDEDUP_ORACLE = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
s AS (
  SELECT doc_id, i AS seg_idx,
         md5(array_to_string(toks[i*{_SEG}+1 : i*{_SEG}+{_SEG}], ' ')) AS h,
         doc_id * 1000000 + i AS okey
  FROM t, UNNEST(range(CAST(floor((len(toks) - 1) / {_SEG}) AS BIGINT) + 1)) AS u(i)
),
k AS (
  SELECT doc_id, CASE WHEN okey = min(okey) OVER (PARTITION BY h) THEN 1 ELSE 0 END AS kept
  FROM s
),
g AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
         CAST(sum(kept) AS BIGINT) AS n_kept
  FROM k GROUP BY 1
)
SELECT doc_id, n_segments, n_kept,
       {{ratio}} AS kept_ratio
FROM g
"""


@query(
    "segment_dedup_c4",
    oracle=_SEGDEDUP_ORACLE.format(
        ratio="floor(CAST(n_kept AS DOUBLE) / CAST(n_segments AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0"
    ),
)
def segment_dedup_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style sub-document dedup: split every document into fixed
    10-token segments, fingerprint each segment (md5), and keep only the
    FIRST occurrence of each fingerprint corpus-wide (first = smallest
    (doc_id, seg_idx)); report per-doc segment counts and the kept ratio.

    This is the span-level pass real training-data pipelines (C4,
    RefinedWeb) run after doc-level dedup — boilerplate and cross-posted
    passages duplicate at sub-document granularity that MinHash on whole
    docs misses.

    Scale: the segmenting is a narrow per-row transform (sequence +
    slice + array_join, all JVM); the only shuffle carries (doc_id,
    seg_idx, 32-hex digest) — never text — partitioned by digest, and the
    keep-first rule is a window min over that digest partitioning. At
    100 TB the digest shuffle is ~3% of corpus bytes and hot fingerprints
    (a viral boilerplate segment) skew only a min() aggregation, which
    AQE handles; no join, no all-pairs."""
    d = _t(spark, sf_dir, "documents").select("doc_id", T.tokens(F.col("text")).alias("toks"))
    segs = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.floor((F.size("toks") - 1) / _SEG).cast("int")),
                lambda i: F.md5(F.array_join(F.slice(F.col("toks"), i * _SEG + 1, _SEG), " ").cast("binary")),
            )
        ).alias("seg_idx", "h"),
    ).withColumn("okey", F.col("doc_id") * F.lit(1000000) + F.col("seg_idx"))
    from pyspark.sql import Window as _W

    kept = segs.withColumn(
        "kept", F.when(F.col("okey") == F.min("okey").over(_W.partitionBy("h")), 1).otherwise(0)
    )
    g = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum("kept").cast("bigint").alias("n_kept"),
    )
    return g.select(
        "doc_id",
        "n_segments",
        "n_kept",
        fxr(F.col("n_kept").cast("double") / F.col("n_segments").cast("double"), 6).alias("kept_ratio"),
    )


# ---------------------------------------------------------------------------
# Exact duplicate-span extraction (substring-level dedup)
# ---------------------------------------------------------------------------

_SPAN_K = 5  # k-gram width; spans merge whenever duplicated starts are <= k apart

_SPAN_ORACLE = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
g AS (
  SELECT doc_id, i AS pos, array_to_string(toks[i:i + {_SPAN_K - 1}], ' ') AS gram
  FROM t, UNNEST(range(1, len(toks) - {_SPAN_K - 2})) p(i)),
dup AS (SELECT gram FROM g GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
hits AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= {_SPAN_K}
              THEN 0 ELSE 1 END AS new_span
  FROM hits),
spans AS (
  SELECT doc_id, pos,
         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS span_id
  FROM flagged),
merged AS (
  SELECT doc_id, span_id,
         CAST(max(pos) - min(pos) + {_SPAN_K} AS BIGINT) AS span_tokens
  FROM spans GROUP BY 1, 2)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(span_tokens) AS BIGINT) AS dup_tokens,
       CAST(max(span_tokens) AS BIGINT) AS max_span_tokens
FROM merged GROUP BY 1
"""


@query("duplicate_span_extraction", oracle=_SPAN_ORACLE)
def duplicate_span_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring-level duplication (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" ExactSubstr
    operator, re-expressed relationally): find every MAXIMAL token span a
    document shares verbatim with any other document, by (1) exploding
    word {_SPAN_K}-grams with their start positions, (2) keeping k-grams
    whose gram text occurs in >= 2 distinct documents, and (3) merging
    duplicated starts whose ranges touch (gap <= k) into maximal spans
    via one gaps-and-islands window. Document-level near-dup (MinHash /
    SimHash) misses partial duplication — a quoted paragraph inside an
    otherwise-novel page; span extraction is the surgical complement that
    reports WHERE the duplication lives (here: per-doc span count,
    duplicated-token mass, longest span; the span bounds themselves are
    in the island frame one select away).

    The suffix-array formulation of the paper is pointer-chasing over a
    global sort — wrong shape for a shared-nothing cluster; the k-gram
    group-by computes the same duplicated-span set for spans >= k (every
    such span contains a duplicated k-gram, and maximal merges recover
    extent) with only key-partitioned shuffles.

    Scale: the gram group-by and the hit join both shuffle on the gram
    key — at 100 TB the gram string collapses to an 8-byte xxhash64 key
    (collision-checked or accepted at 2^-64), making the shuffle rows
    ~16 bytes; the islands window partitions by doc_id (bounded by doc
    length). Stop-word-heavy grams distribute over the full k-gram
    space, so there is no hot key by construction (k >= 5 grams are
    near-unique outside true duplication)."""
    d = _t(spark, sf_dir, "documents")
    grams = (
        d.select("doc_id", T.tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"if(size(toks) < {_SPAN_K}, array(),"
                    f" transform(sequence(1, size(toks) - {_SPAN_K - 1}),"
                    f" i -> struct(i AS pos, concat_ws(' ', slice(toks, i, {_SPAN_K})) AS gram)))"
                )
            ).alias("kg"),
        )
        .select("doc_id", F.col("kg.pos").alias("pos"), F.col("kg.gram").alias("gram"))
        # persist kept: cold A/B, sf0.1, 4 cores, 5 pairs: 2.57 s with vs 3.63 s without (medians), won 5/5, parent IQR 0.14 s
        .persist()
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("gram")
    )
    hits = grams.join(dup, "gram", "left_semi").select("doc_id", "pos")
    from pyspark.sql import Window as _W

    w = _W.partitionBy("doc_id").orderBy("pos")
    flagged = hits.withColumn(
        "new_span",
        F.when(F.col("pos") - F.lag("pos").over(w) <= _SPAN_K, 0).otherwise(1),
    )
    spans = flagged.withColumn(
        "span_id", F.sum("new_span").over(w.rowsBetween(_W.unboundedPreceding, 0))
    )
    merged = spans.groupBy("doc_id", "span_id").agg(
        (F.max("pos") - F.min("pos") + _SPAN_K).cast("bigint").alias("span_tokens")
    )
    return merged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum("span_tokens").cast("bigint").alias("dup_tokens"),
        F.max("span_tokens").cast("bigint").alias("max_span_tokens"),
    )


# ---------------------------------------------------------------------------
# Gopher/MassiveText-style repetition signals
# ---------------------------------------------------------------------------

_REP_ORACLE = f"""
WITH t AS (SELECT doc_id, toks, len(toks) AS n
           FROM (SELECT doc_id, {TOKS_SQL} AS toks FROM documents)),
bic AS (SELECT doc_id, max(c) AS top_bi FROM (
            SELECT doc_id, g, count(*) AS c FROM (
                SELECT doc_id,
                       unnest(list_transform(range(2, n + 1),
                              i -> toks[i-1] || ' ' || toks[i])) AS g
                FROM t WHERE n >= 2)
            GROUP BY 1, 2)
        GROUP BY 1),
fvc AS (SELECT doc_id, sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup5 FROM (
            SELECT doc_id, g, count(*) AS c FROM (
                SELECT doc_id,
                       unnest(list_transform(range(5, n + 1),
                              i -> toks[i-4] || ' ' || toks[i-3] || ' ' ||
                                   toks[i-2] || ' ' || toks[i-1] || ' ' || toks[i])) AS g
                FROM t WHERE n >= 5)
            GROUP BY 1, 2)
        GROUP BY 1),
adj AS (SELECT doc_id,
               list_sum(list_transform(range(2, n + 1),
                        i -> CASE WHEN toks[i] = toks[i-1] THEN 1 ELSE 0 END)) AS rep
        FROM t WHERE n >= 2)
SELECT t.doc_id,
       CAST(t.n AS INT) AS n_tokens,
       floor(coalesce(CAST(bic.top_bi AS DOUBLE) * 2 / t.n, 0) * 10000.0 + 0.5) / 10000.0
           AS top_bigram_frac,
       floor(least(coalesce(CAST(fvc.dup5 AS DOUBLE) * 5 / t.n, 0), 1.0) * 10000.0 + 0.5) / 10000.0
           AS dup_fivegram_frac,
       floor(CASE WHEN t.n >= 2 THEN coalesce(CAST(adj.rep AS DOUBLE), 0) / (t.n - 1)
                  ELSE 0 END * 10000.0 + 0.5) / 10000.0
           AS adj_repeat_frac
FROM t LEFT JOIN bic USING (doc_id)
       LEFT JOIN fvc USING (doc_id)
       LEFT JOIN adj USING (doc_id)
"""


@query("doc_repetition_signals", oracle=_REP_ORACLE, bench=True)
def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style repetition filters — the quality signals
    that kill boilerplate and loop-generated text before training:
    (a) top_bigram_frac: fraction of tokens inside occurrences of the
    document's most frequent word 2-gram (overlapping occurrence mass,
    count*2/n); (b) dup_fivegram_frac: fraction of tokens covered by
    5-grams occurring at least twice (capped at 1); (c) adj_repeat_frac:
    fraction of adjacent positions repeating the previous token (the
    degenerate-loop detector). Tokenization shares NORM_SQL/TOKS_SQL
    with every other text operator, and the fractions quantize through
    the repo-wide half-up 1e-4 formula, so the oracle is value-exact.

    Scale (r11 rewrite): every signal is PER-DOCUMENT, so nothing needs
    to leave the row — gram frequencies come from sorting the row's gram
    array (equal grams become adjacent) and run-length folding it with
    array ``aggregate``, all inside whole-stage codegen. The r10 plan
    exploded the gram stream and shuffled it twice per signal (groupBy
    (doc_id, gram), then groupBy(doc_id)) and joined three signal frames
    back — ~2n shuffled gram rows per doc and 4 exchanges + 3 joins;
    this plan is ONE scan -> project with ZERO exchanges. Per-row cost
    is the O(L log L) sort the grouped count also paid (its sort was
    inside the shuffle); no Python, no window, no join."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", T.tokens(F.col("text")).alias("toks")
    ).withColumn("n", F.size("toks"))
    # sorted gram arrays: equal grams are adjacent, so per-doc gram
    # counts are run lengths — computed as attributes first so the
    # aggregate lambdas fold plain array references (an inlined
    # expression would be recomputed per element)
    t = t.withColumn(
        "sbg",
        F.expr(
            "IF(n >= 2, array_sort(transform(sequence(2, n), i ->"
            " concat(element_at(toks, i - 1), ' ', element_at(toks, i)))),"
            " CAST(array() AS ARRAY<STRING>))"
        ),
    ).withColumn(
        "sfg",
        F.expr(
            "IF(n >= 5, array_sort(transform(sequence(5, n), i -> concat_ws(' ',"
            " element_at(toks, i - 4), element_at(toks, i - 3),"
            " element_at(toks, i - 2), element_at(toks, i - 1),"
            " element_at(toks, i)))),"
            " CAST(array() AS ARRAY<STRING>))"
        ),
    )
    # max run length over the sorted bigrams == the top bigram's count
    top_bi = F.expr(
        "aggregate(sbg,"
        " named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),"
        " (acc, x) -> named_struct("
        "   'prev', x,"
        "   'run', IF(x <=> acc.prev, acc.run + 1, 1L),"
        "   'best', greatest(acc.best, IF(x <=> acc.prev, acc.run + 1, 1L))),"
        " acc -> acc.best)"
    )
    # total mass of 5-gram runs of length >= 2: extending a run to 2 adds
    # both members, extending further adds 1
    dup5 = F.expr(
        "aggregate(sfg,"
        " named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'dup', 0L),"
        " (acc, x) -> named_struct("
        "   'prev', x,"
        "   'run', IF(x <=> acc.prev, acc.run + 1, 1L),"
        "   'dup', acc.dup + IF(x <=> acc.prev,"
        "                       IF(acc.run = 1, 2L, 1L), 0L)),"
        " acc -> acc.dup)"
    )
    rep = F.expr(
        "aggregate(zip_with(slice(toks, 1, n - 1), slice(toks, 2, n - 1),"
        " (a, b) -> IF(a = b, 1, 0)), 0, (acc, x) -> acc + x)"
    )
    out = (
        t.withColumn("top_bi", F.when(F.col("n") >= 2, top_bi))
        .withColumn("dup5", F.when(F.col("n") >= 5, dup5))
        .withColumn("rep", F.when(F.col("n") >= 2, rep))
        .select(
            "doc_id",
            F.col("n").cast("int").alias("n_tokens"),
            fxr(
                F.coalesce(F.col("top_bi").cast("double") * 2 / F.col("n"), F.lit(0.0)), 4
            ).alias("top_bigram_frac"),
            fxr(
                F.least(
                    F.coalesce(F.col("dup5").cast("double") * 5 / F.col("n"), F.lit(0.0)),
                    F.lit(1.0),
                ),
                4,
            ).alias("dup_fivegram_frac"),
            fxr(
                F.when(
                    F.col("n") >= 2,
                    F.coalesce(F.col("rep").cast("double"), F.lit(0.0)) / (F.col("n") - 1),
                ).otherwise(0.0),
                4,
            ).alias("adj_repeat_frac"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction (stopword-delimited candidates, deg/freq scores)
# ---------------------------------------------------------------------------

_RAKE_MAX_LEN = 3
_RAKE_TOP = 15


@query(
    "doc_rake_keyphrases",
    oracle=f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
t AS (SELECT doc_id,
             unnest(list_transform(range(1, len(tk) + 1),
                                   i -> struct_pack(pos := i, tok := tk[i]))) AS u
      FROM toks),
t2 AS (SELECT doc_id, u.pos AS pos, u.tok AS tok,
              CASE WHEN u.tok IN ({_STOP_LIST_SQL}) OR u.tok = '' THEN 1 ELSE 0 END AS is_stop
       FROM t),
g AS (SELECT doc_id, pos, tok, is_stop,
             CAST(sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS grp
      FROM t2),
w AS (SELECT doc_id, grp, pos, tok FROM g WHERE is_stop = 0),
ph AS (SELECT doc_id, grp,
              string_agg(tok, ' ' ORDER BY pos) AS phrase,
              CAST(count(*) AS BIGINT) AS n_words
       FROM w GROUP BY 1, 2
       HAVING count(*) BETWEEN 1 AND {_RAKE_MAX_LEN}),
wp AS (SELECT w.tok, ph.n_words
       FROM w JOIN ph ON w.doc_id = ph.doc_id AND w.grp = ph.grp),
ws AS (SELECT tok,
              CAST(floor(CAST(sum(n_words) AS DOUBLE) * 1000000.0 / count(*) + 0.5)
                   AS BIGINT) AS ws_q
       FROM wp GROUP BY 1),
po AS (SELECT phrase, n_words, CAST(count(*) AS BIGINT) AS n_occurrences
       FROM ph GROUP BY 1, 2),
pw AS (SELECT po.phrase, unnest(string_split(po.phrase, ' ')) AS tok FROM po),
sc AS (SELECT pw.phrase, CAST(sum(ws.ws_q) AS BIGINT) AS score_q
       FROM pw JOIN ws ON pw.tok = ws.tok GROUP BY 1)
SELECT po.phrase, po.n_words, po.n_occurrences,
       sc.score_q / 1000000.0 AS rake_score
FROM po JOIN sc ON po.phrase = sc.phrase
ORDER BY sc.score_q DESC, po.phrase ASC
LIMIT {_RAKE_TOP}
""",
)
def doc_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs (capped at 3 words); every word
    scores degree/frequency — degree counts co-occurrence mass (the sum
    of lengths of phrases containing the word), frequency its raw count —
    and a phrase scores the sum of its words' scores, so multi-word
    domain terms outrank common single words. Corpus-level top-15.

    Exactness: word scores quantize to int64 micro-units BEFORE the
    phrase sum (deg*1e6/freq floored — identical expression both
    engines), so phrase scores are exact integer sums; tokenizer and
    stopword list are the repo's shared parity pair (functions.text
    tokens/STOPWORDS == TOKS_SQL/_STOP_LIST_SQL).

    Scale: phrase segmentation is a per-document window over token
    positions (per-key frames after one explode — no global sort); word
    and phrase statistics are two map-side-combinable aggregations over
    the exploded runs; the final top-15 is TakeOrderedAndProject. Text
    never fans out beyond the single token explode."""
    from fraud_detection_etl_project_spark.functions import text as T

    d = _t(spark, sf_dir, "documents")
    t = d.select("doc_id", F.posexplode(T.tokens(F.col("text"))).alias("pos", "tok"))
    is_stop = (F.col("tok").isin(T.STOPWORDS) | (F.col("tok") == "")).cast("int")
    g = t.select(
        "doc_id",
        "pos",
        "tok",
        is_stop.alias("is_stop"),
        F.sum(is_stop)
        .over(
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("long")
        .alias("grp"),
    )
    w = g.filter(F.col("is_stop") == 0).select("doc_id", "grp", "pos", "tok")
    ph = (
        w.groupBy("doc_id", "grp")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
        )
        .filter(F.col("n_words").between(1, _RAKE_MAX_LEN))
    )
    wp = w.join(ph.select("doc_id", "grp", "n_words"), ["doc_id", "grp"])
    ws = wp.groupBy("tok").agg(
        F.floor(F.sum("n_words").cast("double") * 1000000.0 / F.count(F.lit(1)) + 0.5)
        .cast("long")
        .alias("ws_q")
    )
    po = ph.groupBy("phrase", "n_words").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    pw = po.select("phrase", F.explode(F.split("phrase", " ")).alias("tok"))
    sc = pw.join(ws, "tok").groupBy("phrase").agg(F.sum("ws_q").cast("long").alias("score_q"))
    return (
        po.join(sc, "phrase")
        .orderBy(F.col("score_q").desc(), F.col("phrase").asc())
        .limit(_RAKE_TOP)
        .select(
            "phrase",
            "n_words",
            "n_occurrences",
            (F.col("score_q") / 1000000.0).alias("rake_score"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental inverted-index maintenance off the change feed
# ---------------------------------------------------------------------------

_PHRASES_OF = (
    "list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]))"
)

_INC_POSTINGS_ORACLE = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
bnew AS (SELECT doc_id, UNNEST({_PHRASES_OF}) AS phrase
         FROM t WHERE len(toks) >= 2 AND doc_id % 10 = 0),
bcorp AS (SELECT doc_id, UNNEST({_PHRASES_OF}) AS phrase
          FROM t WHERE len(toks) >= 2 AND doc_id % 10 <> 0),
g AS (SELECT phrase, list_sort(list(DISTINCT doc_id)) AS new_postings,
             count(DISTINCT doc_id) AS m_new
      FROM bnew GROUP BY phrase),
cdf AS (SELECT phrase, count(DISTINCT doc_id) AS df_corpus
        FROM bcorp WHERE phrase IN (SELECT phrase FROM g) GROUP BY phrase)
SELECT g.phrase, CAST(g.m_new AS BIGINT) AS m_new,
       CAST(coalesce(c.df_corpus, 0) + g.m_new AS BIGINT) AS df_total,
       CAST(g.new_postings AS BIGINT[]) AS new_postings,
       CAST(list_prepend(g.new_postings[1],
                         list_transform(range(1, len(g.new_postings)),
                                        i -> g.new_postings[i + 1] - g.new_postings[i])) AS BIGINT[]) AS gaps
FROM g LEFT JOIN cdf c ON c.phrase = g.phrase
"""


@query("snapshot_incremental_postings_delta", oracle=_INC_POSTINGS_ORACLE)
def snapshot_incremental_postings_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental inverted-index maintenance off the table format (the
    retrieval-family member of the incremental set, beside the dedup and
    IVF paths): the corpus lives in a snapshot table — v1 existing docs,
    v2 appends today's batch — and the index job computes the POSTINGS
    DELTA from the change feed: per phrase occurring in the batch, the
    sorted new-doc posting list with its delta-gap encoding (the segment
    a Lucene-style index would flush) plus the MERGED document frequency
    (corpus df + batch df — what the index's df dictionary is updated
    to). The corpus side is touched only for phrases the batch actually
    contains (a semi join), never re-indexed.

    Scale: posting generation is O(batch phrases); the df merge scans
    the corpus once but aggregates only batch-phrase rows (in
    production the df dictionary is part of the index, making the
    recurring cost batch-only); time travel pins the corpus version so
    delta segments compose deterministically while ingest continues."""
    from fraud_detection_etl_project_spark import snapshot as snap

    t = _snap_incdedup(spark, sf_dir)

    def _phrases(df: DataFrame) -> DataFrame:
        toks = F.split(T.normalized(F.col("text")), " ")
        ph = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat(
                    F.element_at("toks", i), F.lit(" "), F.element_at("toks", i + 1)
                ),
            )
        )
        return (
            df.select("doc_id", toks.alias("toks"))
            .filter(F.size("toks") >= 2)
            .select("doc_id", F.explode(ph).alias("phrase"))
        )

    new = snap.read_changes(spark, t, from_version=1).select("doc_id", "text")
    corpus = snap.read(spark, t, version=1)
    g = _phrases(new).groupBy("phrase").agg(
        F.array_sort(F.collect_set("doc_id")).alias("new_postings"),
        F.count_distinct("doc_id").cast("bigint").alias("m_new"),
    )
    # corpus touched only for batch phrases (semi join before the agg)
    cdf = (
        _phrases(corpus)
        .join(g.select("phrase"), "phrase", "left_semi")
        .groupBy("phrase")
        .agg(F.count_distinct("doc_id").cast("bigint").alias("df_corpus"))
    )
    # single-entry postings need the guard the full-index build gets for
    # free from its df >= 2 band: sequence(1, 0) DESCENDS in Spark, so
    # the gap transform would probe index 2 of a 1-element array
    gaps = F.when(
        F.size("new_postings") <= 1, F.col("new_postings")
    ).otherwise(
        F.concat(
            F.slice("new_postings", 1, 1),
            F.transform(
                F.sequence(F.lit(1), F.size("new_postings") - 1),
                lambda i: F.element_at("new_postings", i + 1)
                - F.element_at("new_postings", i),
            ),
        )
    )
    return (
        g.join(cdf, "phrase", "left")
        .na.fill({"df_corpus": 0})
        .select(
            "phrase",
            "m_new",
            (F.col("df_corpus") + F.col("m_new")).cast("bigint").alias("df_total"),
            F.col("new_postings").cast("array<bigint>"),
            gaps.cast("array<bigint>").alias("gaps"),
        )
    )
