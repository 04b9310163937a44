"""Training-data-pipeline declared queries (SURVEY.md §2C + north star):
near-dup detection, ANN, text quality/tokens/fingerprints, sampling and
sketches. Exact-SQL-expressible variants carry DuckDB oracles; the
seeded-hash approximate tiers (minhash/simhash/LSH/IVF) are rows-only
(murmur3 differs between engines) and are instead property-tested against
their exact twins in tests/test_extensions.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from vcf2db_spark.functions.text import (
    BPE_ISH_TOKEN_RE,
    bpe_ish_tokens,
    doc_fingerprint,
    lang_id,
    quality_score,
    with_text_stats,
)
from vcf2db_spark.io import table, table_wide
from vcf2db_spark.operators.dedup import (
    jaccard_pairs,
    minhash_lsh_candidates,
    simhash_near_pairs,
)
from vcf2db_spark.operators.similarity import ivf_topk, lsh_topk
from vcf2db_spark.registry import OAVG, OSUM, OZ6, davg, dq, dsum, r6, z6

# --------------------------------------------------------------------------
# C2 exact twin — token-set Jaccard near-dup pairs (bounded input; the
# scale path is minhash_lsh below)
# --------------------------------------------------------------------------


@dq(
    "dedup_jaccard",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS id, unnest(list_distinct(string_split_regex(text, '\\s+'))) AS tok
      FROM documents WHERE doc_id < 500
    ),
    sizes AS (SELECT id, COUNT(*) AS n_toks FROM toks GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(n_inter / (sa.n_toks + sb.n_toks - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE n_inter / (sa.n_toks + sb.n_toks - n_inter) >= 0.8
    """,
)
def dedup_jaccard(spark, sf_dir):
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return jaccard_pairs(d, threshold=0.8)


# --------------------------------------------------------------------------
# C2+ — duplicate CLUSTERS: connected components over the Jaccard pair
# graph (pairwise drop rules under-merge transitive duplicates). Spark:
# iterative min-label propagation with pointer jumping
# (operators/dedup.py::duplicate_clusters); oracle: DuckDB recursive-CTE
# transitive closure over the identical pair set — an iterative
# distributed algorithm hash-checked against a recursive SQL fixpoint.
# --------------------------------------------------------------------------


@dq(
    "dedup_clusters",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id AS id, unnest(list_distinct(string_split_regex(text, '\\s+'))) AS tok
      FROM documents WHERE doc_id < 500
    ),
    sizes AS (SELECT id, COUNT(*) AS n_toks FROM toks GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE n_inter / (sa.n_toks + sb.n_toks - n_inter) >= 0.8
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    minreach AS (SELECT src, MIN(dst) AS min_dst FROM reach GROUP BY src)
    SELECT d.doc_id,
           CAST(LEAST(d.doc_id, COALESCE(m.min_dst, d.doc_id)) AS BIGINT)
             AS cluster_id
    FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d
    LEFT JOIN minreach m ON m.src = d.doc_id
    """,
)
def dedup_clusters(spark, sf_dir):
    from vcf2db_spark.operators.dedup import duplicate_clusters

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    pairs = jaccard_pairs(d, threshold=0.8)
    return duplicate_clusters(pairs, d.select("doc_id"), loop_partitions=4)


# --------------------------------------------------------------------------
# C3 — pairwise cosine near-dup (exact, bounded): posexplode + decimal dot
# --------------------------------------------------------------------------


@dq(
    "neardup_cosine",
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings WHERE vec_id < 150
    ),
    d AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_dot_product(a.emb, b.emb) AS dot,
             list_dot_product(a.emb, a.emb) AS na,
             list_dot_product(b.emb, b.emb) AS nb
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, ROUND(dot / (SQRT(na) * SQRT(nb)), 6) AS cosine
    FROM d WHERE dot / (SQRT(na) * SQRT(nb)) >= 0.3
    """,
)
def neardup_cosine(spark, sf_dir):
    # Pair dots via sequential double HOFs (bitwise-equal to DuckDB's
    # list_dot_product — both fold the list left-to-right in IEEE double).
    # No posexplode, no shuffle: a broadcast pair join over a bounded
    # candidate set; the unbounded-scale path is dedup_minhash_lsh.
    from vcf2db_spark.operators.similarity import dot as hof_dot

    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    ea, eb = F.col("ea"), F.col("eb")
    cos = hof_dot(ea, eb) / (F.sqrt(hof_dot(ea, ea)) * F.sqrt(hof_dot(eb, eb)))
    return pairs.filter(cos >= 0.3).select("id_a", "id_b", r6(cos).alias("cosine"))


# --------------------------------------------------------------------------
# C5 — quality scoring + token stats (exact expressions, oracle-able)
# --------------------------------------------------------------------------


@dq(
    "text_quality",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, text,
             string_split_regex(text, '\\s+') AS toks,
             len(string_split_regex(text, '\\s+')) AS n_tokens
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$'))) AS n_alpha_tokens,
           ROUND((LENGTH(text) - (n_tokens - 1)) / n_tokens, 6) AS avg_token_len,
           ROUND(len(list_filter(toks, x -> list_contains(
                 ['the','of','and','to','in','a','is','that','for','it'], x)))
                 / n_tokens, 6) AS stopword_ratio,
           ROUND(1.0 / (1.0 + EXP(-(0.05 * n_tokens
                 + 3.0 * (len(list_filter(toks, x -> list_contains(
                     ['the','of','and','to','in','a','is','that','for','it'], x))) / n_tokens)
                 - 0.2 * ABS((LENGTH(text) - (n_tokens - 1)) / n_tokens - 5.0)))), 6)
             AS quality
    FROM t
    """,
)
def text_quality(spark, sf_dir):
    d = table_wide(spark, sf_dir, "documents", "doc_id")
    return with_text_stats(d).select(
        "doc_id",
        "lang",
        "n_tokens",
        "n_alpha_tokens",
        "avg_token_len",
        "stopword_ratio",
        quality_score().alias("quality"),
    )


# --------------------------------------------------------------------------
# C5 — token counting: whitespace + BPE-ish regex counts
# --------------------------------------------------------------------------


@dq(
    "token_count",
    oracle=f"""
    SELECT doc_id,
           len(string_split_regex(text, '\\s+')) AS n_ws_tokens,
           len(regexp_extract_all(text, '{BPE_ISH_TOKEN_RE}')) AS n_bpe_tokens,
           len(list_distinct(string_split_regex(text, '\\s+'))) AS n_distinct_tokens
    FROM documents
    """,
)
def token_count(spark, sf_dir):
    d = table_wide(spark, sf_dir, "documents", "doc_id")
    ws = F.split(F.col("text"), r"\s+")
    return d.select(
        "doc_id",
        F.size(ws).alias("n_ws_tokens"),
        F.size(bpe_ish_tokens("text")).alias("n_bpe_tokens"),
        F.size(F.array_distinct(ws)).alias("n_distinct_tokens"),
    )


# --------------------------------------------------------------------------
# C5 — document fingerprint (md5 of sorted distinct tokens; md5 is
# identical across engines, so this one IS oracle-able)
# --------------------------------------------------------------------------


@dq(
    "doc_fingerprint",
    oracle="""
    WITH sigs AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(
                 string_split_regex(text, '\\s+'))), ' ')) AS fp
      FROM documents
    )
    SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS kept_doc_id
    FROM sigs GROUP BY fp
    """,
)
def doc_fingerprint_q(spark, sf_dir):
    d = table_wide(spark, sf_dir, "documents", "doc_id")
    return (
        d.select("doc_id", doc_fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("kept_doc_id"))
    )


# --------------------------------------------------------------------------
# rows-only tier: seeded-hash approximations (murmur3 differs per engine)
# and nondeterministic-by-contract ops (B27 sampling, B28 sketches).
# Each is property-tested against its exact twin in tests/.
# --------------------------------------------------------------------------


@dq("dedup_minhash_lsh")
def dedup_minhash_lsh(spark, sf_dir):
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return minhash_lsh_candidates(d).filter(F.col("est_jaccard") >= 0.5)


@dq("dedup_simhash")
def dedup_simhash(spark, sf_dir):
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return simhash_near_pairs(d, max_hamming=3)


@dq("ann_lsh")
def ann_lsh(spark, sf_dir):
    e = table_wide(spark, sf_dir, "embeddings", "vec_id")
    q = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return lsh_topk(e.filter(F.col("vec_id") != 0), [float(x) for x in q], k=5)


@dq("ann_ivf")
def ann_ivf(spark, sf_dir):
    e = table_wide(spark, sf_dir, "embeddings", "vec_id")
    q = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return ivf_topk(e.filter(F.col("vec_id") != 0), [float(x) for x in q], k=5)


@dq("lang_id")
def lang_id_q(spark, sf_dir):
    # table-level path: exploded broadcast-join votes (codegen) — the
    # per-row HOF expression form is interpreted and ~3× slower for a
    # whole-table pass (equivalence asserted in tests/test_extensions.py)
    from vcf2db_spark.functions.text import lang_id_table

    d = table_wide(spark, sf_dir, "documents", "doc_id")
    return (
        lang_id_table(d, "text", "doc_id")
        .groupBy("detected_lang")
        .agg(F.count("*").alias("n_docs"))
    )


@dq("sample_frac")
def sample_frac(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return (
        li.sample(fraction=0.1, seed=42)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_sampled"))
    )


@dq("curate_docs")
def curate_docs(spark, sf_dir):
    """C1-C5 composed: the full curation pass (quality filter → exact
    dedup → MinHash-LSH near-dedup) over `documents`, reporting survivors
    per (lang_pred, source). Deterministic (seeded hashes, id tie-breaks)
    but not SQL-expressible in one oracle (LSH banding) → rows-only;
    stage-level semantics are golden-tested in tests/test_curate.py."""
    from vcf2db_spark.curate import curate_documents

    # bounded input (harness convention): LSH banding over the full sf0.1
    # corpus is the scale path's job, not the per-round compare's. 2,500
    # docs (r5, was 5,000 — VERDICT r4 item 8: the rows-only bench tier
    # must stay readable); full-pipeline parity lives in tests/test_curate.py
    docs = table_wide(spark, sf_dir, "documents", "doc_id").filter(
        F.col("doc_id") < 2_500
    )
    out = curate_documents(docs, min_quality=0.0, lsh_threshold=0.9)
    return (
        out.groupBy("lang_pred", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_pred", "source")
    )


@dq("sample_stratified")
def sample_stratified(spark, sf_dir):
    """B27 stratified tier: ``sampleBy`` draws a DIFFERENT fraction per
    stratum (here: oversample returns 'R', thin 'N') — the cohort-balancing
    primitive for training-data curation (class rebalancing without a
    shuffle; per-row Bernoulli keyed by the stratum column). Rows-only by
    contract (sampling is engine-specific); the proportion sanity check
    lives in tests/test_extensions.py."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.sampleBy("l_returnflag", {"R": 0.5, "N": 0.05, "A": 0.2}, seed=42)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_sampled"))
    )


@dq("approx_agg")
def approx_agg(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_quantity", 0.5).alias("approx_median_qty"),
    )


@dq(
    "domain_cap",
    oracle="""
    WITH q AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS quality
      FROM documents
    ),
    r AS (
      SELECT doc_id, source, quality,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY quality DESC, doc_id) AS rk
      FROM q
    )
    SELECT doc_id, source, quality, rk FROM r WHERE rk <= 10
    """,
)
def domain_cap(spark, sf_dir):
    """Per-domain quota sampling (the CommonCrawl-style curation cap):
    keep at most K=10 quality-ranked documents per source (binds at every fixture scale: 20 sources x 25 docs) so no single
    domain dominates the training mix — QUALIFY shape, deterministic
    tie-break on doc_id. Quality here is token count (any scalar score
    works — the cap logic is the operator). One exchange on the domain
    key, per-domain sort, no global sort. A pathologically hot domain
    (one source >> an executor) would route through the two-phase
    range-partitioned ranking rewrite in operators/ranking.py — the
    win_ntile_dense device — before the cap filter; at fixture scale
    the plain window IS the right plan."""
    from pyspark.sql import Window

    from vcf2db_spark.functions.text import ws_tokens

    d = table_wide(spark, sf_dir, "documents", "doc_id")
    q = d.select(
        "doc_id",
        "source",
        F.size(ws_tokens(F.trim(F.col("text")))).cast("bigint").alias("quality"),
    )
    w = Window.partitionBy("source").orderBy(F.col("quality").desc(), "doc_id")
    return q.select(
        "doc_id", "source", "quality", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= 10)


@dq(
    "sketch_quantile",
    # the estimate is fully deterministic (integer bin counts + IEEE
    # interpolation, bin width 51/256 = 0.19921875 is DYADIC so the
    # decimal literal is bit-exact in both engines; 0.9 must be CAST to
    # DOUBLE oracle-side or DuckDB computes it in DECIMAL space) — so
    # unlike the murmur-seeded sketches this one is hash-compared, not
    # rows-only
    oracle="""
    WITH b AS (
      SELECT l_returnflag,
             LEAST(255, CAST(FLOOR((l_quantity - 0.0) / 0.19921875) AS INT))
               AS bin
      FROM lineitem
    ),
    c AS (SELECT l_returnflag, bin, CAST(COUNT(*) AS BIGINT) AS n
          FROM b GROUP BY 1, 2),
    u AS (
      SELECT * FROM c
      UNION ALL
      SELECT 'ALL' AS l_returnflag, bin, CAST(SUM(n) AS BIGINT) AS n
      FROM c GROUP BY bin
    ),
    w AS (
      SELECT l_returnflag, bin, n,
             SUM(n) OVER (PARTITION BY l_returnflag ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(n) OVER (PARTITION BY l_returnflag) AS tot
      FROM u
    )
    SELECT l_returnflag,
           ROUND(arg_min(
             0.0 + (bin + (CAST(0.5 AS DOUBLE) * tot - (cum - n)) / n)
                 * 0.19921875, bin)
             FILTER (WHERE cum >= CAST(0.5 AS DOUBLE) * tot), 6) AS est_p50,
           ROUND(arg_min(
             0.0 + (bin + (CAST(0.9 AS DOUBLE) * tot - (cum - n)) / n)
                 * 0.19921875, bin)
             FILTER (WHERE cum >= CAST(0.9 AS DOUBLE) * tot), 6) AS est_p90
    FROM w GROUP BY l_returnflag
    """,
)
def sketch_quantile(spark, sf_dir):
    """B28+ MERGEABLE quantile sketch beside the HLL row: a fixed-width
    histogram sketch (256 bins over the column's value domain) built
    per group, then UNIONED into a global sketch by plain count
    addition — the store-the-sketch pattern for quantiles (per-day
    histogram partials merge on read; an exact percentile re-shuffles
    raw values every time). Quantile read-out interpolates inside the
    covering bin, so |est − true| ≤ bin width by construction — that
    bound vs the exact `agg_percentile` twin is pinned in
    tests/test_extensions.py. The estimate itself is deterministic
    enough to HASH-COMPARE against a DuckDB twin of the identical
    arithmetic (see oracle note); everything is JVM expressions — the
    sketch is a groupBy over (group, bin), never a UDF."""
    lo, hi, nbins = 0.0, 51.0, 256
    width = (hi - lo) / nbins
    li = table(spark, sf_dir, "lineitem")
    binned = li.select(
        "l_returnflag",
        F.least(
            F.lit(nbins - 1),
            F.floor((F.col("l_quantity") - lo) / width).cast("int"),
        ).alias("_bin"),
    )
    hist = binned.groupBy("l_returnflag", "_bin").agg(
        F.count(F.lit(1)).alias("_c")
    )
    merged = hist.groupBy("_bin").agg(F.sum("_c").alias("_c")).select(
        F.lit("ALL").alias("l_returnflag"), "_bin", "_c"
    )
    both = hist.unionAll(merged)

    def _q(p: float, name: str):
        # rank of the target quantile within the group, then the first
        # bin whose cumulative count covers it; linear interpolation
        # inside that bin (deterministic: integer cumulative counts)
        from pyspark.sql import Window

        wcum = (
            Window.partitionBy("l_returnflag")
            .orderBy("_bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wall = Window.partitionBy("l_returnflag")
        cum = F.sum("_c").over(wcum)
        tot = F.sum("_c").over(wall)
        target = p * tot
        covered = cum >= target
        frac = (target - (cum - F.col("_c"))) / F.col("_c")
        est = lo + (F.col("_bin") + frac) * width
        return (
            both.select(
                "l_returnflag",
                "_bin",
                "_c",
                F.when(covered, est).alias("_est"),
            )
            .filter(F.col("_est").isNotNull())
            .groupBy("l_returnflag")
            # FIRST covering bin (not min est: later bins interpolate
            # with frac ≤ 0 and can undercut it) — min_by on bin index
            .agg(F.round(F.min_by("_est", "_bin"), 6).alias(name))
        )

    p50 = _q(0.5, "est_p50")
    p90 = _q(0.9, "est_p90")
    return p50.join(p90, "l_returnflag")


_CMS_W = 256  # count-min width (buckets per hash row)
_CMS_HASHES = [(2654435761, 104729), (2246822519, 130003), (3266489917, 49157)]
_CMS_P = 2147483647  # 2^31-1, Mersenne prime


def _cms_bucket_sql(i: int, col: str) -> str:
    a, b = _CMS_HASHES[i]
    # ((a*x + b) mod p) mod w — x ≤ 2^31 keeps a*x ≤ ~2^62, inside BIGINT
    return f"((({col} % {_CMS_P}) * {a} + {b}) % {_CMS_P}) % {_CMS_W}"


@dq(
    "sketch_freq",
    oracle=f"""
    WITH top AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM lineitem GROUP BY l_partkey
      ORDER BY exact_n DESC, l_partkey LIMIT 10
    ),
    c0 AS (SELECT {_cms_bucket_sql(0, 'l_partkey')} AS b,
                  CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
    c1 AS (SELECT {_cms_bucket_sql(1, 'l_partkey')} AS b,
                  CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
    c2 AS (SELECT {_cms_bucket_sql(2, 'l_partkey')} AS b,
                  CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY 1)
    SELECT top.l_partkey, top.exact_n,
           LEAST(c0.c, c1.c, c2.c) AS est_n
    FROM top
    JOIN c0 ON c0.b = {_cms_bucket_sql(0, 'top.l_partkey')}
    JOIN c1 ON c1.b = {_cms_bucket_sql(1, 'top.l_partkey')}
    JOIN c2 ON c2.b = {_cms_bucket_sql(2, 'top.l_partkey')}
    """,
)
def sketch_freq(spark, sf_dir):
    """Count-min frequency sketch, ORACLE-EXACT (unlike the murmur-seeded
    tiers): d=3 explicit modular hash rows × w=256 counters, built as
    three partial-agged groupBys (the sketch is w·d counters — mergeable
    by addition across partitions/days, the store-the-sketch pattern for
    heavy-hitter tracking at 100 TB where exact per-key counts would
    re-shuffle the keyspace every window). Estimate = min over the d
    counters (classic CMS upper-bound read-out; ≥ exact always,
    overestimate bounded by collisions — visible in the output next to
    the exact twin column). The three counter relations are ≤256 rows
    each and broadcast back onto the true top-10 keys."""
    li = table(spark, sf_dir, "lineitem")
    top = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "l_partkey")
        .limit(10)
    )
    out = top
    for i in range(3):
        ci = li.groupBy(
            F.expr(_cms_bucket_sql(i, "l_partkey")).alias("b")
        ).agg(F.count(F.lit(1)).alias(f"c{i}"))
        out = out.join(
            F.broadcast(ci),
            F.expr(_cms_bucket_sql(i, "l_partkey")) == F.col("b"),
        ).drop("b")
    return out.select(
        "l_partkey",
        "exact_n",
        F.least("c0", "c1", "c2").alias("est_n"),
    )


from vcf2db_spark.queries.training import knuth_hash_sql  # noqa: E402


@dq(
    "sample_bottomk",
    oracle=f"""
    WITH h AS (SELECT doc_id,
                      {knuth_hash_sql('doc_id', '//')} AS hkey
               FROM documents)
    SELECT doc_id, hkey
    FROM h ORDER BY hkey, doc_id LIMIT 100
    """,
)
def sample_bottomk(spark, sf_dir):
    """Bottom-k sketch: the k=100 documents with the SMALLEST Knuth-hash
    values form a uniform-without-replacement sample that is MERGEABLE
    (bottom-k of a union = bottom-k of the parts' bottom-ks — how a
    1000-executor job draws one coherent sample with no coordination;
    union-merge property pinned in tests/test_extensions.py). Plans as
    TakeOrderedAndProject: per-partition top-k then a k-row driver
    merge, never a global sort (and no window — a global row_number
    would be the single-task stage the plan guard bans). Oracle-exact —
    the hash is the same explicit integer arithmetic in both engines."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    h = d.withColumn("hkey", F.expr(knuth_hash_sql("doc_id", "DIV")))
    return h.orderBy("hkey", "doc_id").limit(100)


@dq("sketch_distinct")
def sketch_distinct(spark, sf_dir):
    """B28+ MERGEABLE sketches (Apache DataSketches HLL, built into Spark
    as hll_sketch_agg/hll_union_agg): per-group sketch partials union to
    a global estimate WITHOUT re-scanning — the 100 TB pattern for
    distinct counts maintained across partitions/days (store the binary
    sketch per partition, union on read; an exact countDistinct would
    re-shuffle the raw keys every time). Rows-only by contract (the
    estimate is algorithm-specific, DuckDB's approx_count_distinct is a
    different HLL); the ≤2% relative-error bound vs the exact count and
    union-vs-direct consistency are pinned in tests/test_extensions.py."""
    li = table(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey", F.lit(14)).alias("_sk")
    )
    est = per_flag.select(
        "l_returnflag", F.hll_sketch_estimate("_sk").alias("est_distinct")
    )
    merged = per_flag.agg(F.hll_union_agg("_sk").alias("_sku")).select(
        F.lit("ALL").alias("l_returnflag"),
        F.hll_sketch_estimate("_sku").alias("est_distinct"),
    )
    return est.unionAll(merged)


# --------------------------------------------------------------------------
# C5 — document chunking, repetition signals, PII scrubbing, and benchmark
# decontamination (the remaining training-corpus passes; all exact
# expressions, all oracle-backed)
# --------------------------------------------------------------------------


@dq(
    "text_chunk",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
      FROM documents WHERE doc_id < 200
    ),
    c AS (
      SELECT doc_id, l,
             unnest(range(0, CAST(ceil(len(l) / 32.0) AS INT))) AS chunk_idx
      FROM t
    )
    SELECT doc_id, chunk_idx,
           array_to_string(l[chunk_idx*32+1 : chunk_idx*32+32], ' ') AS chunk_text,
           len(l[chunk_idx*32+1 : chunk_idx*32+32]) AS n_tokens
    FROM c
    """,
)
def text_chunk(spark, sf_dir):
    """Fixed-token chunking for pre-training shards: transform/slice builds
    per-doc chunk arrays scan-locally (no shuffle), explode fans them out.
    At 100 TB this is a map-only pass whose output partitioning inherits
    the input's — no repartition needed before the tokenizer."""
    from vcf2db_spark.functions.text import token_chunks

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select(
        "doc_id", F.explode(token_chunks("text", 32)).alias("c")
    ).select("doc_id", "c.chunk_idx", "c.chunk_text", "c.n_tokens")


@dq(
    "text_repetition",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
      FROM documents
    ),
    b AS (
      SELECT doc_id, l[i] || ' ' || l[i+1] AS bg
      FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM t)
    ),
    bc AS (SELECT doc_id, bg, COUNT(*) AS n FROM b GROUP BY 1, 2),
    per AS (SELECT doc_id, MAX(n) AS max_bg, CAST(SUM(n) AS BIGINT) AS n_bg
            FROM bc GROUP BY 1)
    SELECT t.doc_id,
           CAST(len(l) AS BIGINT) AS n_tokens,
           ROUND(1.0 - len(list_distinct(l)) / len(l), 6) AS dup_token_ratio,
           ROUND(per.max_bg / per.n_bg, 6) AS top_bigram_frac
    FROM t JOIN per ON t.doc_id = per.doc_id
    """,
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition signals: duplicate-token ratio (narrow
    array expressions) and top-bigram fraction via a two-level aggregate
    over HASHED bigrams — position-explode (codegen-safe, see
    explode_token_ngram_hashes), partial-agg count on (doc_id, gh), max
    per doc. The shuffle carries one 8-byte hash per DISTINCT bigram per
    doc (bounded by doc length, independent of corpus size). A shuffle-
    free alternative — run-length fold over the sorted bigram array — is
    plan-elegant but 4× slower in practice: array aggregate() is a
    CodegenFallback expression, interpreted per element."""
    from vcf2db_spark.functions.text import explode_token_ngram_hashes, ws_tokens

    d = table_wide(spark, sf_dir, "documents", "doc_id")
    toks = ws_tokens(F.trim(F.col("text")))
    base = d.filter(F.size(toks) >= 2).select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(
            1.0 - F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6
        ).alias("dup_token_ratio"),
    )
    g = explode_token_ngram_hashes(d, "text", 2)
    per = (
        g.groupBy("doc_id", "gh")
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy("doc_id")
        .agg(F.max("_n").alias("_max_bg"))
    )
    # n_bigrams == n_tokens - 1 exactly (both sides tokenize identically),
    # so the denominator needs no second pass over the gram stream
    return base.join(per, "doc_id").select(
        "doc_id",
        "n_tokens",
        "dup_token_ratio",
        F.round(
            F.col("_max_bg").cast("double") / (F.col("n_tokens") - 1).cast("double"),
            6,
        ).alias("top_bigram_frac"),
    )


@dq(
    "text_scrub",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, 'value( part)?')) AS BIGINT)
             AS n_redactions,
           md5(regexp_replace(text, 'value( part)?', '<PII>', 'g')) AS scrubbed_md5,
           CAST(LENGTH(regexp_replace(text, 'value( part)?', '<PII>', 'g')) AS BIGINT)
             AS scrubbed_len
    FROM documents
    """,
)
def text_scrub(spark, sf_dir):
    """PII-style scrubbing probe: the library default patterns target
    emails/phones (absent from the synthetic fixture), so the DQ exercises
    the same chained regexp_replace/regexp_count machinery on a pattern
    the fixture does contain, and hashes the scrubbed text to prove the
    rewrite is byte-identical across engines."""
    from vcf2db_spark.functions.text import scrub_text

    d = table_wide(spark, sf_dir, "documents", "doc_id")
    s = scrub_text("text", patterns=((r"value( part)?", "<PII>"),))
    return d.select("doc_id", s.alias("s")).select(
        "doc_id",
        F.col("s.n_redactions").alias("n_redactions"),
        F.md5(F.col("s.scrubbed")).alias("scrubbed_md5"),
        F.length(F.col("s.scrubbed")).cast("long").alias("scrubbed_len"),
    )


@dq(
    "contam_ngram",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
    ),
    g AS (
      SELECT doc_id, array_to_string(l[i:i+7], ' ') AS ngram
      FROM (SELECT doc_id, l, unnest(range(1, len(l) - 6)) AS i FROM t)
    ),
    bench AS (SELECT DISTINCT ngram FROM g WHERE doc_id < 50),
    train AS (SELECT doc_id, ngram FROM g WHERE doc_id >= 50)
    SELECT train.doc_id,
           CAST(COUNT(DISTINCT train.ngram) AS BIGINT) AS n_contaminated
    FROM train JOIN bench USING (ngram)
    GROUP BY 1
    """,
)
def contam_ngram(spark, sf_dir):
    """Benchmark decontamination (GPT-3/Llama recipe): flag training docs
    sharing any 8-token n-gram with the held-out set (here: doc_id < 50
    stands in for the benchmark). The benchmark n-gram set is tiny and
    broadcast — the training side never shuffles; at 100 TB this stays a
    map-side semi-join against a distributed-cached dictionary.

    N-grams travel as xxhash64 of the 8-token slice, never as materialized
    strings: the broadcast set is 8 bytes/entry instead of ~60, the join
    compares longs, and the map side skips ~n_tokens string concats per
    doc. Distinct-hash counts equal distinct-ngram counts modulo a 2⁻⁶⁴
    collision (≈1e-7 at even 10⁹ n-grams per doc-pair universe). The
    explode goes through ``explode_token_ngram_hashes`` (position
    sequence + slice-hash projection) to stay in whole-stage codegen —
    see that function's plan-shape note."""
    from vcf2db_spark.functions.text import explode_token_ngram_hashes

    d = table_wide(spark, sf_dir, "documents", "doc_id")
    g = explode_token_ngram_hashes(d, "text", 8)
    bench = F.broadcast(
        g.filter(F.col("doc_id") < 50).select("gh").distinct()
    )
    train = g.filter(F.col("doc_id") >= 50)
    return (
        train.join(bench, "gh")
        .groupBy("doc_id")
        .agg(F.count_distinct("gh").alias("n_contaminated"))
    )


# --------------------------------------------------------------------------
# C5+ — corpus vocabulary, window-level duplication (Lee-et-al-style exact
# substring dedup signal), and OOV rate against the corpus vocabulary:
# the tokenizer-construction / data-quality triad of a training pipeline.
# --------------------------------------------------------------------------


@dq(
    "vocab_topk",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents
    )
    SELECT token,
           COUNT(*) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM tok GROUP BY token
    ORDER BY n_occurrences DESC, token
    LIMIT 100
    """,
)
def vocab_topk(spark, sf_dir):
    """Corpus vocabulary head: token → occurrence count + document
    frequency, top-100 by count (ties by token). One partial-aggregated
    shuffle on token; at 100 TB this is the vocabulary-construction scan
    (word-level BPE seed counts), with TakeOrdered replacing a global
    sort."""
    from vcf2db_spark.functions.text import ws_tokens

    d = table_wide(spark, sf_dir, "documents", "doc_id")
    tok = d.select("doc_id", F.explode(ws_tokens(F.trim(F.col("text")))).alias("token"))
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("n_occurrences").desc(), "token")
        .limit(100)
    )


@dq(
    "dedup_window",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM documents
    ),
    g AS (
      SELECT doc_id, array_to_string(l[i:i+15], ' ') AS gram
      FROM (SELECT doc_id, l, unnest(range(1, len(l) - 14)) AS i FROM t)
    ),
    multi AS (
      SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(COUNT(*) FILTER (WHERE multi.gram IS NOT NULL) AS BIGINT)
             AS n_dup_windows,
           ROUND(COUNT(*) FILTER (WHERE multi.gram IS NOT NULL) * 1.0
                 / COUNT(*), 6) AS dup_fraction
    FROM g LEFT JOIN multi ON g.gram = multi.gram
    GROUP BY g.doc_id
    """,
)
def dedup_window(spark, sf_dir):
    """Exact-substring duplication signal (the Lee et al. dedup shape at
    window granularity): fraction of each doc's 16-token windows that
    also occur in ANOTHER doc. Windows travel as xxhash64 of the token
    slice (8 bytes, not ~100-char strings; counts identical mod 2⁻⁶⁴);
    the multi-doc window set comes from one (gh → distinct-doc>1) agg and
    joins back on the hash — no all-pairs.

    Plan shape (r3 rewrite): the exploded window stream collapses FIRST
    to (doc_id, gh, c) — one partial-agged exchange — and every later
    stage works on that. The multi-doc aggregate is then a plain
    count-of-rows per gh (each row is already one distinct doc), and the
    back-join hits the SAME gh-hashed exchange of gd, so Catalyst reuses
    it instead of re-exploding the corpus (was: explode twice + a
    count_distinct expand; measured 5.2 s → see BASELINE.md at sf1)."""
    from vcf2db_spark.functions.text import explode_token_ngram_hashes

    d = table_wide(spark, sf_dir, "documents", "doc_id")
    g = explode_token_ngram_hashes(d, "text", 16)
    gd = g.groupBy("doc_id", "gh").agg(F.count(F.lit(1)).alias("_c"))
    multi = (
        gd.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") > 1)
        .select("gh", F.lit(1).alias("_dup"))
    )
    n_win = F.sum("_c")
    n_dup = F.sum(F.when(F.col("_dup").isNotNull(), F.col("_c")).otherwise(F.lit(0)))
    return (
        gd.join(multi, "gh", "left")
        .groupBy("doc_id")
        .agg(
            n_win.alias("n_windows"),
            n_dup.alias("n_dup_windows"),
            F.round(n_dup.cast("double") / n_win, 6).alias("dup_fraction"),
        )
    )


@dq(
    "oov_rate",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents
    ),
    vocab AS (
      SELECT token FROM tok GROUP BY token
      ORDER BY COUNT(*) DESC, token LIMIT 100
    )
    SELECT tok.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE vocab.token IS NULL) AS BIGINT) AS n_oov,
           ROUND(COUNT(*) FILTER (WHERE vocab.token IS NULL) * 1.0 / COUNT(*), 6)
             AS oov_rate
    FROM tok LEFT JOIN vocab ON tok.token = vocab.token
    GROUP BY tok.doc_id
    """,
)
def oov_rate(spark, sf_dir):
    """Per-doc out-of-vocabulary rate against the corpus top-100
    vocabulary — the coverage metric a tokenizer/vocab choice is judged
    by. The vocabulary is O(vocab_size) rows and rides a broadcast; the
    token stream never shuffles for the membership test (one groupBy on
    doc_id afterwards)."""
    from vcf2db_spark.functions.text import ws_tokens

    d = table_wide(spark, sf_dir, "documents", "doc_id")
    tok = d.select("doc_id", F.explode(ws_tokens(F.trim(F.col("text")))).alias("token"))
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.col("_n").desc(), "token")
        .limit(100)
        .select("token", F.lit(1).alias("_in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count("_in_vocab").alias("_n_in"),
            F.round(
                (F.count(F.lit(1)) - F.count("_in_vocab")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.col("_n_in")).alias("n_oov"),
            "oov_rate",
        )
    )


# --------------------------------------------------------------------------
# C3+ — neighbor-graph tier: exact k-NN (oracle-backed, bounded) as the
# correctness twin of the IVF-list-blocked knn_join / semantic_dedup
# (rows-only: murmur3-seeded centroid choice is engine-specific).
# --------------------------------------------------------------------------


@dq(
    "knn_exact",
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings WHERE vec_id < 200
    ),
    pairs AS (
      SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
             ROUND(list_dot_product(a.emb, b.emb)
                   / (SQRT(list_dot_product(a.emb, a.emb))
                      * SQRT(list_dot_product(b.emb, b.emb))), 6) AS cosine
      FROM e a JOIN e b ON a.vec_id < 50 AND a.vec_id != b.vec_id
    )
    SELECT id, neighbor_id, cosine FROM pairs
    QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY cosine DESC, neighbor_id) <= 3
    """,
)
def knn_exact(spark, sf_dir):
    """Exact top-3 cosine neighbors for each of the first 50 vectors in a
    bounded 200-vector corpus: broadcast pair join (no shuffle of the
    corpus side), sequential-double HOF dot products (bitwise-equal to
    DuckDB list_dot_product), per-id window top-k. This is the exact
    twin the blocked knn_join's recall is tested against at scale."""
    from pyspark.sql import Window

    from vcf2db_spark.operators.similarity import cosine

    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    a = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("_ea")
    )
    b = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_eb"))
    pairs = a.join(F.broadcast(b), F.col("id") != F.col("neighbor_id"))
    scored = pairs.select(
        "id", "neighbor_id", r6(cosine(F.col("_ea"), F.col("_eb"))).alias("cosine")
    )
    w = Window.partitionBy("id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return scored.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= 3).drop("_rn")


@dq("knn_graph")
def knn_graph(spark, sf_dir):
    """IVF-list-blocked batch k-NN with two-probe candidate generation
    (operators/similarity.py::knn_join) — the 100 TB neighbor-graph path.
    Deterministic (seeded murmur3 centroids, id tie-breaks) but the hash
    family is engine-specific → rows-only; recall vs the exact twin is
    asserted in tests/test_sinks_scale.py."""
    from vcf2db_spark.operators.similarity import knn_join

    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    return knn_join(e, k=3, n_lists=8, refine_iters=1, probes=2)


@dq("knn_recall")
def knn_recall(spark, sf_dir):
    """Driver-visible quality metric for the approximate tier: recall@3 of
    the IVF-blocked ``knn_join`` (two-probe) against the exact brute-force
    twin ``knn_exact``, on the same 200-vector corpus / first-50 query
    scope. Computed distributed — a left-semi join on (id, neighbor_id)
    and two scalar counts — never collecting the pair sets. Seeded-hash
    blocking → rows-only; the absolute floor is pinned in
    tests/test_sinks_scale.py::test_knn_recall_query_floor."""
    from pyspark.sql import Window

    from vcf2db_spark.operators.similarity import cosine, ivf_assign_multi

    # materialize the exact twin ONCE (lazy localCheckpoint): it feeds
    # both the n_tot scalar and the broadcast hit-marker, and without a
    # barrier the brute-force pair join runs once per consumer
    exact = knn_exact(spark, sf_dir).localCheckpoint(eager=False)
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    n_tot = exact.groupBy().agg(F.count(F.lit(1)).alias("_tot"))

    # ONE multi-probe assignment pass covers every ladder rung: a pair is
    # generated at probe level p iff some shared list has both sides'
    # probe rank < p, so min-over-lists of max(rank_a, rank_b) + 1 is the
    # smallest level that produces it. Scoring + dedup happen once; each
    # rung is a filter + window over the folded pair set — equivalent to
    # running knn_join at probes=p (same centroids, same tie-breaks) at a
    # third of the cost.
    assigned, _ = ivf_assign_multi(e, n_lists=8, probes=3, refine_iters=1)
    # materialize the multi-probe assignment ONCE: the a/b sides of the
    # pair self-join are different projections of the same subtree, so
    # without a barrier the Arrow assignment chain (scan → centroid
    # assign → probe ranks) runs twice per query (r10 plan audit: two
    # copies of the scan+ArrowEvalPython chain). The assignment is the
    # operator's natural stage boundary (n·probes rows, the index a
    # production pipeline stores anyway); same device as _cc_loop.
    assigned = assigned.localCheckpoint(eager=False)
    a = assigned.filter(F.col("vec_id") < 50).select(
        "list_id",
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("_va"),
        F.col("_probe_rank").alias("_ra"),
    )
    b = assigned.select(
        "list_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_vb"),
        F.col("_probe_rank").alias("_rb"),
    )
    pairs = a.join(b, "list_id").filter(F.col("id") != F.col("neighbor_id"))
    scored = pairs.select(
        "id",
        "neighbor_id",
        (F.greatest("_ra", "_rb") + 1).alias("_lvl"),
        F.round(cosine(F.col("_va"), F.col("_vb")), 6).alias("cosine"),
    )
    folded = scored.groupBy("id", "neighbor_id").agg(
        F.min("_lvl").alias("_lvl"), F.max("cosine").alias("cosine")
    )
    # All three probe rungs from ONE pass over the folded pairs (r10 —
    # the same single-pass shape ivfadc_recall got, VERDICT r9 item 2:
    # the unioned per-probe branches each re-evaluated assignment +
    # scoring, and the left-semi recall joins re-ran the exact twin per
    # rung). Rank-within-level via conditional cumulative counts: under
    # the strictly total (cosine desc, neighbor_id) order,
    # sum(level-indicator) up to the current row IS row_number() over
    # the level-filtered set, so one window covers all three levels —
    # one shuffle, one sort, and the exact twin evaluates once as a
    # broadcast hit-marker instead of three semi-join probes.
    w = Window.partitionBy("id").orderBy(F.col("cosine").desc(), "neighbor_id")
    flags = folded.join(
        F.broadcast(exact.select("id", "neighbor_id", F.lit(1).alias("_ex"))),
        ["id", "neighbor_id"],
        "left",
    )
    for p in (1, 2, 3):
        in_lvl = F.col("_lvl") <= p
        rn = F.sum(F.when(in_lvl, 1).otherwise(0)).over(w)
        flags = flags.withColumn(f"_t_{p}", in_lvl & (rn <= 3))
    counts = flags.filter(F.col("_ex").isNotNull()).groupBy().agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col(f"_t_{p}"), 1).otherwise(0)), F.lit(0)
            ).alias(f"_h_{p}")
            for p in (1, 2, 3)
        ]
    )
    return (
        counts.crossJoin(F.broadcast(n_tot))
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(3).alias("k"),
                            F.lit(p).alias("probes"),
                            F.col("_tot").alias("n_exact_pairs"),
                            F.round(F.col(f"_h_{p}") / F.col("_tot"), 6).alias(
                                "recall_at_k"
                            ),
                        )
                        for p in (1, 2, 3)
                    ]
                )
            ).alias("_r")
        )
        .select("_r.*")
    )


@dq("ivfadc_recall")
def ivfadc_recall(spark, sf_dir):
    """IVFADC quality ladder (VERDICT r7 item 6; OPQ rung r9): recall@3
    of the PQ-coded asymmetric-distance probe (operators/similarity.py::
    ivfadc_knn_join's scoring — database side = m=8 one-byte codes,
    ~64x probe-bandwidth cut vs the float64 vectors knn_join ships)
    against the exact brute-force twin, at the SAME probe counts as
    knn_recall — so the two ladders isolate exactly what PQ
    reconstruction costs in recall at equal candidate generation.
    Three variants per probe count: ``adc`` (PQ m=8, the r8 tier),
    ``adc_rerank`` (top-9 ADC candidates re-scored full-precision),
    and ``opq`` (r9, VERDICT r8 item 3 — Ge et al.'s learned orthogonal
    rotation before encoding, m=32: closes the ADC-only recall gap,
    measured 0.70 → 0.95 unblocked on this fixture, still a 16× probe-
    bandwidth cut at 32 one-byte codes per 512 B vector). One multi-probe assignment +
    ONE multi-tier scoring pass covers all nine rungs — rank-within-
    probe-level via conditional cumulative window counts, so the plan
    runs the pair scan once, not once per (variant, probes) branch
    (r10, VERDICT r9 item 2). Seeded-hash blocking → rows-only; the absolute
    floors are pinned in tests/test_quantization.py::
    test_ivfadc_recall_floor."""
    from pyspark.sql import Window

    from vcf2db_spark.operators.quantization import (
        adc_cosine_multi_col, collect_train_sample, opq_train,
        pq_codes_multi_col, pq_train,
    )
    from vcf2db_spark.operators.similarity import cosine, ivf_assign_multi

    # exact twin materialized once (lazy localCheckpoint) — feeds n_tot
    # and the hit-marker broadcast; same device as knn_recall
    exact = knn_exact(spark, sf_dir).localCheckpoint(eager=False)
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    n_tot = exact.groupBy().agg(F.count(F.lit(1)).alias("_tot"))

    # one sample-collect job trains BOTH code tiers (r10: the r9 ladder
    # paid a second collect + a second Arrow encode/score pass for the
    # OPQ rung — the multi-tier UDFs ship the probe vectors once)
    sample_X = collect_train_sample(e, 200)
    codebooks = pq_train(e, m=8, k=128, iters=4, sample_X=sample_X)
    rot, cb_opq = opq_train(
        e, m=32, k=128, iters=4, opq_iters=8, sample_X=sample_X
    )
    assigned, _ = ivf_assign_multi(e, n_lists=8, probes=3, refine_iters=1)
    # assignment materialized once for the a/b self-join sides (r10 plan
    # audit: the Arrow assign chain otherwise evaluates twice per query)
    assigned = assigned.localCheckpoint(eager=False)
    a = assigned.filter(F.col("vec_id") < 50).select(
        "list_id",
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("_va"),
        F.col("_probe_rank").alias("_ra"),
    )
    b = assigned.select(
        "list_id",
        F.col("vec_id").alias("neighbor_id"),
        pq_codes_multi_col(
            F.col("embedding"), {"cb": (codebooks, None), "co": (cb_opq, rot)}
        ).alias("_codes"),
        F.col("embedding").alias("_vb"),
        F.col("_probe_rank").alias("_rb"),
    ).select(
        "list_id",
        "neighbor_id",
        F.col("_codes.cb").alias("_cb"),
        F.col("_codes.co").alias("_co"),
        "_vb",
        "_rb",
    )
    pairs = a.join(b, "list_id").filter(F.col("id") != F.col("neighbor_id"))
    # ONE scoring projection carries every rung's inputs: both ADC tiers
    # from the multi-tier UDF (query vectors ship over Arrow once) and
    # the full-precision cosine the rerank rung needs, JVM-side (the r9
    # shape re-joined the raw vectors per probe level instead)
    scored = pairs.select(
        "id",
        "neighbor_id",
        (F.greatest("_ra", "_rb") + 1).alias("_lvl"),
        adc_cosine_multi_col(
            F.col("_va"),
            {
                "cosine": (F.col("_cb"), codebooks, None),
                "cos_opq": (F.col("_co"), cb_opq, rot),
            },
        ).alias("_s"),
        r6(cosine(F.col("_va"), F.col("_vb"))).alias("cos_full"),
    ).select(
        "id",
        "neighbor_id",
        "_lvl",
        F.col("_s.cosine").alias("cosine"),
        F.col("_s.cos_opq").alias("cos_opq"),
        "cos_full",
    )
    folded = scored.groupBy("id", "neighbor_id").agg(
        F.min("_lvl").alias("_lvl"),
        F.max("cosine").alias("cosine"),
        F.max("cos_opq").alias("cos_opq"),
        F.max("cos_full").alias("cos_full"),
    )
    # All nine (probes, variant) rungs from ONE pass over the folded
    # pairs (r10: the r9 shape unioned nine branches, each re-running
    # assignment + scoring — 9× the physical work of the logical plan).
    # Rank-within-level via conditional cumulative counts: under a total
    # order (score desc, neighbor_id), sum(level-indicator) up to the
    # current row IS row_number() over the level-filtered set, so one
    # window per ordering covers all three probe levels. The three
    # orderings share the partition key → one shuffle, three sorts.
    w_adc = Window.partitionBy("id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    w_opq = Window.partitionBy("id").orderBy(
        F.col("cos_opq").desc(), "neighbor_id"
    )
    w_full = Window.partitionBy("id").orderBy(
        F.col("cos_full").desc(), "neighbor_id"
    )
    marked = folded.join(
        F.broadcast(
            exact.select("id", "neighbor_id", F.lit(1).alias("_ex"))
        ),
        ["id", "neighbor_id"],
        "left",
    )
    flags = marked
    for p in (1, 2, 3):
        in_lvl = F.col("_lvl") <= p
        rn_adc = F.sum(F.when(in_lvl, 1).otherwise(0)).over(w_adc)
        rn_opq = F.sum(F.when(in_lvl, 1).otherwise(0)).over(w_opq)
        flags = (
            flags.withColumn(f"_t_adc_{p}", in_lvl & (rn_adc <= 3))
            # IVFADC-R: top-9 ADC candidates re-scored full-precision —
            # recovers the PQ reconstruction penalty at bounded bandwidth
            .withColumn(f"_t9_{p}", in_lvl & (rn_adc <= 9))
            # OPQ rung (r9): rotated m=32 codes, ADC-only — the rotation
            # itself recovers the recall the m=8 tier loses
            .withColumn(f"_t_opq_{p}", in_lvl & (rn_opq <= 3))
        )
    for p in (1, 2, 3):
        rr = F.sum(
            F.when(F.col(f"_t9_{p}"), 1).otherwise(0)
        ).over(w_full)
        flags = flags.withColumn(
            f"_t_rr_{p}", F.col(f"_t9_{p}") & (rr <= 3)
        )
    counts = flags.filter(F.col("_ex").isNotNull()).groupBy().agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col(f"_t_{v}_{p}"), 1).otherwise(0)),
                F.lit(0),
            ).alias(f"_h_{v}_{p}")
            for p in (1, 2, 3)
            for v in ("adc", "rr", "opq")
        ]
    )
    variant_name = {"adc": "adc", "rr": "adc_rerank", "opq": "opq"}
    return (
        counts.crossJoin(F.broadcast(n_tot))
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(3).alias("k"),
                            F.lit(p).alias("probes"),
                            F.lit(variant_name[v]).alias("variant"),
                            F.col("_tot").alias("n_exact_pairs"),
                            F.round(
                                F.col(f"_h_{v}_{p}") / F.col("_tot"), 6
                            ).alias("recall_at_k"),
                        )
                        for p in (1, 2, 3)
                        for v in ("adc", "rr", "opq")
                    ]
                )
            ).alias("_r")
        )
        .select("_r.*")
    )


@dq("semdedup")
def semdedup(spark, sf_dir):
    """SemDeDup-style embedding near-dup removal (drop the larger id of
    any pair with cosine ≥ 0.99 sharing an IVF list; two-probe recall).
    Rows-only for the same seeded-hash reason as knn_graph."""
    from vcf2db_spark.operators.similarity import semantic_dedup

    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    kept = semantic_dedup(e, threshold=0.99, n_lists=8, refine_iters=1, probes=2)
    # Project survivors to scalar columns: the query proves survivorship,
    # not the vectors, and the driver canonicalizer can't hash array cells.
    return kept.select("vec_id", "label")


# --------------------------------------------------------------------------
# C5+ — BM25 ranked retrieval: the IR scoring pass a corpus engine runs on
# top of its inverted index (Lucene-formula idf, k1=1.2 b=0.75). Fully
# oracle-backed: every factor is integer-derived (tf, df, doclen, N,
# total_tokens) except ln() and the final ratio — contributions sum
# fixed-point per doc and ranking uses the ROUNDED score (+ doc_id
# tiebreak), so ulp-level libm differences cannot flip an order.
# --------------------------------------------------------------------------

_BM25_TERMS = ("join", "window", "scan")


@dq(
    "search_bm25",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    lens AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
    corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                      CAST(SUM(dl) AS BIGINT) AS total_toks FROM lens),
    tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
           WHERE tok IN ('join', 'window', 'scan') GROUP BY doc_id, tok),
    dfs AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    contrib AS (
      SELECT tf.doc_id,
             ln(1.0 + (corpus.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl
                                 / (CAST(corpus.total_toks AS DOUBLE) / corpus.n_docs)))
               AS c
      FROM tf JOIN dfs ON tf.tok = dfs.tok
              JOIN lens ON tf.doc_id = lens.doc_id
              CROSS JOIN corpus
    )
    SELECT doc_id, {OSUM('c')} AS score
    FROM contrib GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def search_bm25(spark, sf_dir):
    """BM25 top-20 for the query ('join','window','scan'): tokenize once,
    per-(doc,term) tf + per-term df + corpus scalars (N, avg doclen — a
    two-value aggregate broadcast by crossJoin, the tpch_q11 scalar
    pattern), contributions summed fixed-point per doc. The tf table IS
    the inverted-index slice for the query terms — at 100 TB the terms
    filter pushes into the token stream before any shuffle, so the join
    graph only ever moves postings for the queried terms."""
    from vcf2db_spark.functions.text import ws_tokens

    d = table_wide(spark, sf_dir, "documents", "doc_id")
    toks = d.select("doc_id", F.explode(ws_tokens(F.trim(F.col("text")))).alias("tok"))
    lens = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_toks")
    )
    tf = (
        toks.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfs = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("total_toks").cast("double") / F.col("n_docs")
    contrib = (
        tf.join(F.broadcast(dfs), "tok")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            (
                F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * (F.col("tf") * 2.2)
                / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / avgdl))
            ).alias("c"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(dsum("c").alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# C2+ — edit-distance-1 fuzzy matching via DELETION-NEIGHBORHOOD blocking
# (FastSS/SymSpell): candidate pairs come from an equi-join on single-
# deletion variants — never an all-pairs levenshtein — and the exact
# edit-distance filter only runs on the candidates. Both engines have
# native levenshtein, so the whole operator is oracle-backed.
# --------------------------------------------------------------------------


@dq(
    "dedup_fuzzy",
    oracle="""
    WITH vocab AS (
      SELECT DISTINCT c_name AS tok FROM customer WHERE c_custkey < 200
    ),
    vars AS (
      SELECT tok, unnest(list_append(
        list_transform(range(len(tok)),
                       i -> substr(tok, 1, i) || substr(tok, i + 2)), tok)) AS v
      FROM vocab
    ),
    cand AS (
      SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b
      FROM vars a JOIN vars b ON a.v = b.v AND a.tok < b.tok
    )
    SELECT tok_a, tok_b,
           CAST(levenshtein(tok_a, tok_b) AS INT) AS dist
    FROM cand WHERE levenshtein(tok_a, tok_b) <= 1
    """,
)
def dedup_fuzzy(spark, sf_dir):
    """Spelling-variant pairs at edit distance ≤1 over a bounded name
    vocabulary. Deletion-neighborhood blocking: each string expands to
    its |s|+1 single-deletion variants (plus itself), candidates are the
    equi-join on the variant key (Σ|bucket|² bound — the same shape as
    the MinHash band join), and exact levenshtein() confirms. The
    neighborhood join over-generates (e.g. transpositions share variants
    at distance 2), which is WHY the exact filter must follow — blocking
    is recall-complete for ed≤1, the verifier supplies precision. At
    100 TB the variant explode is narrow and the join is hash-
    partitioned by variant; no all-pairs product exists anywhere."""
    vocab = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 200)
        .select(F.col("c_name").alias("tok"))
        .distinct()
    )
    vars_ = vocab.select(
        "tok",
        F.explode(
            F.expr(
                "array_append(transform(sequence(0, length(tok) - 1),"
                " i -> concat(substring(tok, 1, i), substring(tok, i + 2))), tok)"
            )
        ).alias("v"),
    )
    a = vars_.select(F.col("tok").alias("tok_a"), "v")
    b = vars_.select(F.col("tok").alias("tok_b"), "v")
    cand = (
        a.join(b, ["v"])
        .filter(F.col("tok_a") < F.col("tok_b"))
        .select("tok_a", "tok_b")
        .distinct()
    )
    dist = F.levenshtein("tok_a", "tok_b")
    return cand.filter(dist <= 1).select("tok_a", "tok_b", dist.alias("dist"))


# --------------------------------------------------------------------------
# C5+ — bigram language-model perplexity scoring (the CCNet-style corpus
# quality filter): train add-k-smoothed bigram probabilities on the corpus
# itself, score each doc's average negative log-likelihood. Counts are
# integers, ln() runs on identical doubles both engines (the search_bm25
# precedent), and the per-doc mean uses the fixed-point davg convention.
# --------------------------------------------------------------------------


@dq(
    "perplexity_lm",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
      FROM documents
    ),
    bg AS (
      SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
      FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM t)
    ),
    cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
           FROM bg GROUP BY w1, w2),
    cu AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS cu FROM bg GROUP BY w1),
    v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
          FROM (SELECT unnest(l) AS tok FROM t)),
    nll AS (
      SELECT bg.doc_id,
             -ln((cb.cb + 0.5) / (cu.cu + 0.5 * v.v)) AS x
      FROM bg JOIN cb ON bg.w1 = cb.w1 AND bg.w2 = cb.w2
              JOIN cu ON bg.w1 = cu.w1
              CROSS JOIN v
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           {OAVG('x')} AS avg_nll
    FROM nll GROUP BY doc_id
    """,
)
def perplexity_lm(spark, sf_dir):
    """Per-doc average negative log-likelihood under a corpus-trained
    add-0.5-smoothed bigram model — the perplexity screen corpus
    curation uses to drop gibberish/boilerplate. One bigram stream
    feeds the model counts AND the scoring join (train == score corpus
    here; production scores new batches against stored counts, which is
    the incr_agg_maintain merge). Shuffles: bigram/context count
    aggregates + the scoring joins, all keyed on the gram strings;
    vocab size rides a 1-row crossJoin broadcast. At 100 TB the counts
    table is the persisted artifact and only the batch side re-scans."""
    from vcf2db_spark.functions.text import ws_tokens

    d = table_wide(spark, sf_dir, "documents", "doc_id")
    toks = d.select("doc_id", ws_tokens(F.trim(F.col("text"))).alias("l"))
    # size < 2 guard: sequence(0, -1) is the DESCENDING [0, -1] in Spark —
    # out-of-bounds l[1]/l[-1] (ANSI error or phantom NULL bigrams). The
    # oracle's range(1, len(l)) is simply empty for 1-token docs, so only
    # the bigram stream is filtered; the vocab count v still sees all docs.
    bg = toks.filter(F.size("l") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(l) - 2),"
                " i -> struct(l[i] AS w1, l[i + 1] AS w2))"
            )
        ).alias("_p"),
    ).select("doc_id", "_p.w1", "_p.w2")
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cu = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    v = toks.select(F.explode("l").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    nll = (
        bg.join(cb, ["w1", "w2"])
        .join(cu, ["w1"])
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            (
                -F.log(
                    (F.col("cb") + 0.5) / (F.col("cu") + 0.5 * F.col("v"))
                )
            ).alias("x"),
        )
    )
    return nll.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"), davg("x").alias("avg_nll")
    )


# --------------------------------------------------------------------------
# BPE merge-rule training — the tokenizer-preparation pass (see
# operators/bpe.py for the corpus-pass/dict-iteration decomposition).
# Iterative with a per-round scalar argmax → not one SQL expression;
# rows-only by contract, with the pure-Python twin pinned EXACTLY in
# tests/test_extensions.py (same tie-breaks, same left-to-right fold).
# --------------------------------------------------------------------------


@dq("bpe_train")
def bpe_train(spark, sf_dir):
    """Top-8 BPE merges learned from the (bounded) corpus: one corpus
    pass builds the word-frequency dict, then every iteration is
    vocab-sized — pair counts via explode + partial-agged groupBy, the
    argmax merge rule as a 1-row collect (the same bounded driver
    transfer as k-means centroids), and the merge applied with a JVM
    ``aggregate`` fold. At 100 TB only the FIRST aggregation sees the
    corpus; 50k merge rounds over the dict never rescan it."""
    from vcf2db_spark.functions.text import ws_tokens
    from vcf2db_spark.operators.bpe import bpe_train_merges

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    words = (
        d.select(F.explode(ws_tokens(F.lower(F.trim(F.col("text"))))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    merges = bpe_train_merges(words, n_merges=8)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank: int, left: string, right: string",
    )


# --------------------------------------------------------------------------
# BPE corpus ENCODE — the missing half of bpe_train (VERDICT r4 item 6):
# apply the trained merge list to every document. Scale pivot: the merge
# folds run over the VOCABULARY (|vocab| rows × |merges| JVM folds), and
# the corpus-sized step is one broadcast join of exploded words onto the
# encoded dictionary — the corpus is scanned once and never re-touched
# per rule. Iterative trained state → rows-only by contract, with the
# pure-Python twin pinned EXACTLY in tests/test_extensions.py.
# --------------------------------------------------------------------------


@dq("bpe_encode")
def bpe_encode(spark, sf_dir):
    """Tokenize the (bounded) corpus with the 8 trained BPE merges:
    per-document token counts plus the top-20 corpus token-frequency
    head — the tokenize-everything pass every training pipeline runs
    after learning a vocabulary. Output rows: kind='doc' (key=doc_id,
    n=BPE tokens in the document) and kind='token' (key=token, n=corpus
    frequency). At 100 TB the encoded dictionary is broadcast-sized
    (vocab ≪ corpus) and the per-doc aggregate is one partial-agged
    shuffle of (doc, count) pairs."""
    from vcf2db_spark.functions.text import ws_tokens
    from vcf2db_spark.operators.bpe import bpe_encode_vocab, bpe_train_merges

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    toks = d.select(
        "doc_id",
        F.explode(ws_tokens(F.lower(F.trim(F.col("text"))))).alias("w"),
    ).filter(F.length("w") > 0)
    words = toks.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    merges = bpe_train_merges(words, n_merges=8)
    enc = bpe_encode_vocab(words, merges)
    per_doc = (
        toks.join(
            F.broadcast(enc.select("w", F.size("tokens").alias("n_tok"))), "w"
        )
        .groupBy("doc_id")
        .agg(F.sum("n_tok").alias("n"))
        .select(
            F.lit("doc").alias("kind"),
            F.col("doc_id").cast("string").alias("key"),
            F.col("n").cast("bigint").alias("n"),
        )
    )
    tok_head = (
        enc.select("freq", F.explode("tokens").alias("tok"))
        .groupBy("tok")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(20)
        .select(
            F.lit("token").alias("kind"),
            F.col("tok").alias("key"),
            F.col("n").cast("bigint").alias("n"),
        )
    )
    return per_doc.unionAll(tok_head)


# --------------------------------------------------------------------------
# Incremental dedup — new batch vs a PERSISTED fingerprint store (VERDICT
# r4 item 7): the production dedup shape. Every prior dedup query dedups
# one batch against itself; here the corpus history lives on disk as a
# fingerprint-sharded store (sinks/export.py) and only the new batch is
# computed. Oracle-exact: the fingerprints are deterministic md5s.
# --------------------------------------------------------------------------

from vcf2db_spark.lifecycle import Lifecycle  # noqa: E402

_FPSTORE_LC = Lifecycle()
_FPSTORE_SHARDS = 8


@dq(
    "dedup_incremental",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(
                 string_split_regex(text, '\s+'))), ' ')) AS fp
      FROM documents
    )
    SELECT n.doc_id, n.fp FROM fp n
    WHERE n.doc_id % 5 = 0
      AND NOT EXISTS (SELECT 1 FROM fp h
                      WHERE h.doc_id % 5 <> 0 AND h.fp = n.fp)
    """,
)
def dedup_incremental(spark, sf_dir):
    """New-shard dedup against a persisted fingerprint store: the
    history partition (doc_id % 5 != 0) is fingerprinted and WRITTEN as
    a shard store hash-partitioned on the fingerprint itself
    (sinks/export.write_fingerprint_store — one file per shard plus an
    XOR-checksum manifest, verified on read-back); the disjoint new
    batch (doc_id % 5 = 0) then anti-joins the store on (shard, fp) —
    shard-aligned, so no all-pairs and no store rescan below the shard
    level. Returns the NOVEL new-batch docs. At 100 TB the store is
    append-only (xxhash64 shard assignment is stable across runs), a
    batch touches only the shards its own fingerprints hash to, and the
    anti-join shuffles the batch, never the corpus history."""
    from vcf2db_spark.functions.text import doc_fingerprint
    from vcf2db_spark.sinks.export import (
        read_training_shards,
        write_fingerprint_store,
    )

    d = table_wide(spark, sf_dir, "documents", "doc_id")
    fps = d.select("doc_id", doc_fingerprint("text").alias("fp"))
    base = _FPSTORE_LC.fresh_dir("fpstore")
    write_fingerprint_store(
        fps.filter(F.col("doc_id") % 5 != 0), base, n_shards=_FPSTORE_SHARDS
    )
    store = read_training_shards(spark, base, verify=True)
    new = fps.filter(F.col("doc_id") % 5 == 0).withColumn(
        "shard",
        F.pmod(F.xxhash64("fp"), F.lit(_FPSTORE_SHARDS)).cast("int"),
    )
    return new.join(store, ["shard", "fp"], "left_anti").select("doc_id", "fp")


# --------------------------------------------------------------------------
# C5+ — Zipf rank-frequency fit per language: the corpus-health diagnostic
# (natural text fits slope ≈ -1; generated/boilerplate corpora deviate).
# Rank ties broken by token so both engines rank identically; the log-log
# OLS runs on fixed-point sums of identically-derived doubles.
# --------------------------------------------------------------------------

_ZIPF_TOPN = 500


@dq(
    "zipf_slope",
    oracle=rf"""
    WITH tok AS (
      SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents
    ),
    c AS (SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS n
          FROM tok GROUP BY 1, 2),
    r AS (SELECT lang, n,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY n DESC, token) AS rank
          FROM c),
    t AS (SELECT lang, LN(CAST(rank AS DOUBLE)) AS x,
                 LN(CAST(n AS DOUBLE)) AS y
          FROM r WHERE rank <= {_ZIPF_TOPN}),
    s AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pts,
             {OSUM("x")} AS sx, {OSUM("y")} AS sy,
             {OSUM("x * y")} AS sxy, {OSUM("x * x")} AS sxx
      FROM t GROUP BY lang
    ),
    z AS (
      SELECT lang, n_pts,
             {OZ6("(CAST(n_pts AS DOUBLE) * sxy - sx * sy) / (CAST(n_pts AS DOUBLE) * sxx - sx * sx)")} AS zipf_slope,
             sx, sy
      FROM s WHERE CAST(n_pts AS DOUBLE) * sxx - sx * sx > 0
    )
    SELECT lang, n_pts, zipf_slope,
           {OZ6("(sy - zipf_slope * sx) / CAST(n_pts AS DOUBLE)")} AS intercept
    FROM z
    """,
)
def zipf_slope(spark, sf_dir):
    """Per-language Zipf fit: token counts, deterministic rank
    (count DESC, token ASC), log-log OLS over the top-500 ranks from
    four fixed-point sums. One token-keyed count shuffle + one ranking
    window partitioned by lang over the count table (vocabulary-sized,
    never raw tokens) + one lang-keyed aggregate. At 100 TB the count
    table is the only shuffled state and ranks cap the regression input
    at 500 rows per language. Intercept reuses the ROUNDED slope on both
    sides so the arithmetic is identical."""
    from pyspark.sql import Window

    from vcf2db_spark.functions.text import ws_tokens

    d = table_wide(spark, sf_dir, "documents", "doc_id")
    tok = d.select("lang", F.explode(ws_tokens(F.trim(F.col("text")))).alias("token"))
    c = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("n"))
    r = c.select(
        "lang",
        "n",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy(F.col("n").desc(), "token"))
        .alias("rank"),
    ).filter(F.col("rank") <= _ZIPF_TOPN)
    t = r.select(
        "lang",
        F.ln(F.col("rank").cast("double")).alias("x"),
        F.ln(F.col("n").cast("double")).alias("y"),
    )
    s = t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_pts"),
        dsum("x").alias("sx"),
        dsum("y").alias("sy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
    )
    npd = F.col("n_pts").cast("double")
    det = npd * F.col("sxx") - F.col("sx") * F.col("sx")
    z = s.filter(det > 0).select(
        "lang",
        "n_pts",
        z6((npd * F.col("sxy") - F.col("sx") * F.col("sy")) / det).alias("zipf_slope"),
        "sx",
        "sy",
    )
    return z.select(
        "lang",
        "n_pts",
        "zipf_slope",
        z6(
            (F.col("sy") - F.col("zipf_slope") * F.col("sx"))
            / F.col("n_pts").cast("double")
        ).alias("intercept"),
    )


# --------------------------------------------------------------------------
# C5+ — bigram language model head: add-one-smoothed conditional
# probabilities over the corpus's 50 most frequent bigrams — the n-gram
# LM construction pass (the count side of perplexity_lm's scoring side).
# --------------------------------------------------------------------------


@dq(
    "ngram_lm",
    oracle=r"""
    WITH t AS (
      SELECT string_split_regex(trim(text), '\s+') AS l FROM documents
    ),
    g AS (
      SELECT l[i] AS w1, l[i + 1] AS w2
      FROM (SELECT l, unnest(range(1, len(l))) AS i FROM t)
    ),
    bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY 1, 2),
    uc AS (SELECT w1, CAST(SUM(n) AS BIGINT) AS n1 FROM bc GROUP BY 1),
    v AS (SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS vsz FROM bc)
    SELECT bc.w1, bc.w2, bc.n, uc.n1, v.vsz,
           ROUND((CAST(bc.n AS DOUBLE) + 1.0)
                 / (CAST(uc.n1 AS DOUBLE) + CAST(v.vsz AS DOUBLE)), 6)
             AS p_smoothed
    FROM bc JOIN uc USING (w1), v
    ORDER BY bc.n DESC, bc.w1, bc.w2 LIMIT 50
    """,
)
def ngram_lm(spark, sf_dir):
    """Bigram LM counts with add-one smoothing: adjacent-token pairs via
    an indexed array transform (no self-join — the pairing is row-local),
    one bigram-keyed count shuffle, unigram context totals re-aggregated
    FROM the bigram counts (no second corpus pass), successor-vocabulary
    size as a broadcast scalar, and a top-50 head with full deterministic
    tie-break (n DESC, w1, w2 — TakeOrderedAndProject, no global sort).
    The smoothed probability derives from exact BIGINT counts."""
    d = table_wide(spark, sf_dir, "documents", "doc_id")
    # project the token array ONCE; a transform over an inline split
    # would re-tokenize per reference (3× the regex work — codegen does
    # not CSE across lambda scopes)
    toks = d.select(F.split(F.trim(F.col("text")), r"\s+").alias("tk"))
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(slice(tk, 1, greatest(size(tk) - 1, 0)),"
                " (w, i) -> struct(w AS w1, tk[i + 1] AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    uc = bc.groupBy("w1").agg(F.sum("n").alias("n1"))
    v = bc.agg(F.count_distinct("w2").alias("vsz"))
    return (
        bc.join(uc, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "w1",
            "w2",
            "n",
            "n1",
            "vsz",
            F.round(
                (F.col("n").cast("double") + 1.0)
                / (F.col("n1").cast("double") + F.col("vsz").cast("double")),
                6,
            ).alias("p_smoothed"),
        )
        .orderBy(F.col("n").desc(), "w1", "w2")
        .limit(50)
    )


# --------------------------------------------------------------------------
# C5+ — per-document token-distribution entropy: the gibberish /
# boilerplate detector (low entropy = repetitive, high = diverse). All
# probabilities from exact BIGINT counts; per-doc reduction through the
# fixed-point sum.
# --------------------------------------------------------------------------


@dq(
    "token_entropy",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents
    ),
    c AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
          FROM tok GROUP BY 1, 2),
    m AS (SELECT doc_id, c,
                 CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n
          FROM c)
    SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           {OSUM("(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * LN(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))")} AS entropy_nats
    FROM m GROUP BY doc_id
    """,
)
def token_entropy(spark, sf_dir):
    """Shannon entropy of each document's token distribution (nats):
    (doc, token) histogram, per-doc totals via a window over the
    histogram (partitioned by doc_id — same key the aggregate reuses, so
    one exchange serves both), per-cell p·ln(1/p) terms from exact
    integers, fixed-point reduction. The shuffle carries histogram cells
    (bounded by distinct tokens per doc), never raw token instances
    past the first count."""
    from pyspark.sql import Window

    from vcf2db_spark.functions.text import ws_tokens

    d = table_wide(spark, sf_dir, "documents", "doc_id")
    tok = d.select("doc_id", F.explode(ws_tokens(F.trim(F.col("text")))).alias("token"))
    c = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    m = c.select(
        "doc_id",
        "c",
        F.sum("c").over(Window.partitionBy("doc_id")).alias("n"),
    )
    cd = F.col("c").cast("double")
    nd = F.col("n").cast("double")
    return m.groupBy("doc_id").agg(
        F.max("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        dsum((cd / nd) * F.ln(nd / cd)).alias("entropy_nats"),
    )


# --------------------------------------------------------------------------
# C2+ — directed shingle CONTAINMENT pairs: the asymmetric near-dup
# measure (|S(a) ∩ S(b)| / |S(a)|) that catches a document embedded in a
# larger one, where symmetric Jaccard under-fires (|union| dominated by
# the big doc). The standard decontamination / quote-detection screen.
# Same inverted-index Σ|posting|² shape as dedup_jaccard; bounded input
# here, LSH-bucketed at scale (docs/SCALE.md).
# --------------------------------------------------------------------------


@dq(
    "contain_shingle",
    oracle=r"""
    WITH sh AS (
      SELECT doc_id AS id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(l) - 3, 0) + 2),
               i -> array_to_string(l[i:i+2], ' ')))) AS tok
      FROM (SELECT doc_id, string_split_regex(text, '\s+') AS l
            FROM documents WHERE doc_id < 500)
    ),
    sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_toks FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM sh a JOIN sh b ON a.tok = b.tok AND a.id <> b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(CAST(n_inter AS DOUBLE) / CAST(sa.n_toks AS DOUBLE), 6)
             AS containment
    FROM inter JOIN sizes sa ON sa.id = id_a
    WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_toks AS DOUBLE) >= 0.8
    """,
)
def contain_shingle(spark, sf_dir):
    """Directed 3-shingle containment C(a,b) = |S(a)∩S(b)|/|S(a)| ≥ 0.8
    over a bounded slice (operators/dedup.py::containment_pairs). The
    oracle builds identical shingles via DuckDB list slicing (1-based
    inclusive l[i:i+2] ≡ Spark slice(toks, i+1, 3), both clip at the
    tail, so short docs yield the same partial shingle)."""
    from vcf2db_spark.operators.dedup import containment_pairs

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return containment_pairs(d, threshold=0.8)


# --------------------------------------------------------------------------
# C5+ — multinomial Naive Bayes language classifier, train + score in one
# declared dataflow: the canonical count-based quality/language classifier
# of LLM curation stacks (fastText-style bag-of-words, add-one smoothing).
# Train on doc_id % 5 != 0, score the held-out 20%. Everything is exact
# BIGINT counting until the per-(doc,label) log-likelihood, which uses
# ln() on identically-derived doubles (the search_bm25 convention) and
# the fixed-point dsum for the token-sum term. Missing (token,label)
# pairs contribute ln(1) = 0 to the token sum, so the inner join on the
# trained count table IS the full smoothed score — no dense V×L grid.
# --------------------------------------------------------------------------


@dq(
    "nb_classify",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents
    ),
    ct AS (SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS n
           FROM tok WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
    tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_tok FROM ct GROUP BY 1),
    v AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS vsz FROM ct),
    pri AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1),
    nn AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM pri),
    lab AS (SELECT pri.lang, n_docs, n_tok, vsz, n_total
            FROM pri JOIN tot USING (lang), v, nn),
    td AS (SELECT doc_id, lang AS lang_true, token, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok WHERE doc_id % 5 = 0 GROUP BY 1, 2, 3),
    nd AS (SELECT doc_id, lang_true, CAST(SUM(tf) AS BIGINT) AS n_toks
           FROM td GROUP BY 1, 2),
    s1 AS (
      SELECT td.doc_id, ct.lang AS lang_c,
             (CAST(SUM(CAST(ROUND((CAST(tf AS DOUBLE)
               * LN(CAST(ct.n + 1 AS DOUBLE))) * 1000000.0) AS BIGINT))
               AS DOUBLE) / 1000000.0) AS s1
      FROM td JOIN ct ON ct.token = td.token
      GROUP BY 1, 2
    ),
    sc AS (
      SELECT nd.doc_id, nd.lang_true, lab.lang,
             LN(CAST(lab.n_docs AS DOUBLE) / CAST(lab.n_total AS DOUBLE))
             - CAST(nd.n_toks AS DOUBLE)
               * LN(CAST(lab.n_tok + lab.vsz AS DOUBLE))
             + COALESCE(s1.s1, 0.0) AS score
      FROM nd CROSS JOIN lab
      LEFT JOIN s1 ON s1.doc_id = nd.doc_id AND s1.lang_c = lab.lang
    ),
    r AS (
      SELECT doc_id, lang_true, lang, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang) AS rk,
             LEAD(score) OVER (PARTITION BY doc_id
                               ORDER BY score DESC, lang) AS s2
      FROM sc
    )
    SELECT doc_id, lang_true, lang AS lang_pred,
           (ROUND((score - COALESCE(s2, score)), 6) + 0.0) AS margin,
           CAST(CASE WHEN lang = lang_true THEN 1 ELSE 0 END AS BIGINT) AS hit
    FROM r WHERE rk = 1
    """,
)
def nb_classify(spark, sf_dir):
    """Train a multinomial NB on the 80% split, score the held-out 20%:
    per-label token counts (one shuffle), label dim joined broadcast
    (|labels| rows), per-(doc,label) score = ln prior − n_d·ln(tot+V) +
    Σ tf·ln(cnt+1) via an inner join on the trained counts (absent
    pairs are the smoothing zero), argmax per doc with a (score DESC,
    lang) tie-break and the runner-up margin from lead(). At 100 TB the
    trained model is the broadcast side and scoring is one map-side
    join + one (doc,label) aggregate."""
    from pyspark.sql import Window

    from vcf2db_spark.functions.text import ws_tokens

    d = table_wide(spark, sf_dir, "documents", "doc_id")
    tok = d.select(
        "doc_id", "lang", F.explode(ws_tokens(F.trim(F.col("text")))).alias("token")
    )
    # ONE corpus tokenize pass: the (doc, lang, token) histogram feeds
    # both the trained counts (train slice re-aggregated to label grain)
    # and the scoring side (test slice). No persist: AQE's runtime stage
    # reuse already dedupes the shared subtree (A/B at sf1: persist ≡
    # plain within noise, and the first persisted call pays a ~2 s
    # memory-write spike; BASELINE.md round-5 section). At 100 TB the
    # single corpus scan instead of two is the part that matters.
    c_all = tok.groupBy("doc_id", "lang", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    ct = (
        c_all.filter(F.col("doc_id") % 5 != 0)
        .groupBy("lang", "token")
        .agg(F.sum("tf").alias("n"))
    )
    tot = ct.groupBy("lang").agg(F.sum("n").alias("n_tok"))
    v = ct.agg(F.count_distinct("token").alias("vsz"))
    pri = (
        d.filter(F.col("doc_id") % 5 != 0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    nn = pri.agg(F.sum("n_docs").alias("n_total"))
    lab = pri.join(tot, "lang").crossJoin(F.broadcast(v)).crossJoin(F.broadcast(nn))
    td = c_all.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.col("lang").alias("lang_true"), "token", "tf"
    )
    nd = td.groupBy("doc_id", "lang_true").agg(F.sum("tf").alias("n_toks"))
    # the trained model IS the broadcast side (|labels × vocab| rows,
    # bounded by vocabulary not corpus): pinning it makes the scoring
    # join map-side — the held-out token stream never exchanges on
    # token. Unhinted, Catalyst planned SMJ and shuffled BOTH sides;
    # measured 2.5 → 1.7 s at sf1 (interleaved A/B, r6).
    s1 = (
        td.join(
            F.broadcast(ct.select(F.col("lang").alias("lang_c"), "token", "n")),
            "token",
        )
        .groupBy(F.col("doc_id").alias("doc_id_s"), F.col("lang_c"))
        .agg(
            dsum(
                F.col("tf").cast("double") * F.log((F.col("n") + 1).cast("double"))
            ).alias("s1")
        )
    )
    sc = (
        nd.crossJoin(F.broadcast(lab))
        .join(
            s1,
            (F.col("doc_id_s") == F.col("doc_id"))
            & (F.col("lang_c") == F.col("lang")),
            "left",
        )
        .select(
            "doc_id",
            "lang_true",
            "lang",
            (
                F.log(F.col("n_docs").cast("double") / F.col("n_total").cast("double"))
                - F.col("n_toks").cast("double")
                * F.log((F.col("n_tok") + F.col("vsz")).cast("double"))
                + F.coalesce(F.col("s1"), F.lit(0.0))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "lang")
    r = sc.select(
        "doc_id",
        "lang_true",
        "lang",
        "score",
        F.row_number().over(w).alias("rk"),
        F.lead("score").over(w).alias("s2"),
    )
    return r.filter(F.col("rk") == 1).select(
        "doc_id",
        "lang_true",
        F.col("lang").alias("lang_pred"),
        z6(F.col("score") - F.coalesce(F.col("s2"), F.col("score"))).alias("margin"),
        (F.col("lang") == F.col("lang_true")).cast("bigint").alias("hit"),
    )


# --------------------------------------------------------------------------
# C5+ — corpus-level token-distribution drift: smoothed KL divergence
# (both directions) + Jensen-Shannon between the even- and odd-doc
# halves of the corpus — the text analog of drift_psi, the statistic a
# pipeline gates snapshot N+1 against snapshot N with. ONE token-keyed
# aggregate off the scan (conditional counts put both halves on the same
# row, so tokens missing from one half get their Laplace mass without a
# union/grid); the divergence terms reduce vocab-sized rows to scalars
# through the fixed-point sum.
# --------------------------------------------------------------------------


@dq(
    "corpus_kl",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents
    ),
    byt AS (
      SELECT token,
             CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS c_ref,
             CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS c_cur
      FROM tok GROUP BY token
    ),
    tots AS (
      SELECT CAST(SUM(c_ref) AS BIGINT) AS n_ref,
             CAST(SUM(c_cur) AS BIGINT) AS n_cur,
             CAST(COUNT(*) AS BIGINT) AS vsz
      FROM byt
    ),
    terms AS (
      SELECT n_ref, n_cur, vsz,
             (CAST(c_ref + 1 AS DOUBLE) / CAST(n_ref + vsz AS DOUBLE)) AS p,
             (CAST(c_cur + 1 AS DOUBLE) / CAST(n_cur + vsz AS DOUBLE)) AS q
      FROM byt, tots
    )
    SELECT MAX(n_ref) AS n_ref, MAX(n_cur) AS n_cur, MAX(vsz) AS vsz,
           {OZ6(OSUM("p * LN(p / q)"))} AS kl_ref_cur,
           {OZ6(OSUM("q * LN(q / p)"))} AS kl_cur_ref,
           {OZ6(OSUM("0.5 * p * LN(p / ((p + q) / 2.0)) + 0.5 * q * LN(q / ((p + q) / 2.0))"))} AS jsd
    FROM terms
    """,
)
def corpus_kl(spark, sf_dir):
    """Add-one-smoothed KL(ref‖cur), KL(cur‖ref) and Jensen-Shannon
    divergence between the token distributions of the two doc-parity
    halves. The probabilities derive from exact BIGINT counts; ln runs
    on identically-shaped doubles (search_bm25 convention); per-token
    divergence terms reduce through dsum. At 100 TB the only corpus-
    sized exchange is the token count aggregate (partial-aggregated);
    everything downstream is vocabulary-sized then scalar."""
    from vcf2db_spark.functions.text import ws_tokens

    d = table_wide(spark, sf_dir, "documents", "doc_id")
    tok = d.select(
        "doc_id", F.explode(ws_tokens(F.trim(F.col("text")))).alias("token")
    )
    byt = tok.groupBy("token").agg(
        F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0)).alias("c_ref"),
        F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0)).alias("c_cur"),
    )
    tots = byt.agg(
        F.sum("c_ref").alias("n_ref"),
        F.sum("c_cur").alias("n_cur"),
        F.count(F.lit(1)).alias("vsz"),
    )
    p = (F.col("c_ref") + 1).cast("double") / (F.col("n_ref") + F.col("vsz")).cast(
        "double"
    )
    q = (F.col("c_cur") + 1).cast("double") / (F.col("n_cur") + F.col("vsz")).cast(
        "double"
    )
    terms = byt.crossJoin(F.broadcast(tots)).select(
        "n_ref", "n_cur", "vsz", p.alias("p"), q.alias("q")
    )
    m = (F.col("p") + F.col("q")) / 2.0
    return terms.agg(
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
        F.max("vsz").alias("vsz"),
        z6(dsum(F.col("p") * F.log(F.col("p") / F.col("q")))).alias("kl_ref_cur"),
        z6(dsum(F.col("q") * F.log(F.col("q") / F.col("p")))).alias("kl_cur_ref"),
        z6(
            dsum(
                0.5 * F.col("p") * F.log(F.col("p") / m)
                + 0.5 * F.col("q") * F.log(F.col("q") / m)
            )
        ).alias("jsd"),
    )
