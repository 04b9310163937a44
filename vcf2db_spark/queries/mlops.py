"""ML-ops / retrieval-pipeline declared queries (round 5 closing batch):
hybrid-retrieval rank fusion, training-label generation, missing-value
imputation, collocation mining (PMI), hard-negative mining, rank-based
feature normalization, compliance purge audit, and robust (winsorized)
statistics. Every query here is oracle-backed: integer counts and ranks
carry the arithmetic, doubles only appear in identically-written
expressions on both engines (the registry's fixed-point / z6
conventions).

Reference parity note: upstream vcf2db (quinlan-lab, single-file ETL)
has no analog for these — they extend the engine along the
LLM-training-data axis the build plan calls for (SURVEY.md §2C), the
same way pipeline_ext.py's curation tier does.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from vcf2db_spark.functions.text import ws_tokens
from vcf2db_spark.io import table, table_wide
from vcf2db_spark.lifecycle import Lifecycle
from vcf2db_spark.operators.similarity import dot as hof_dot
from vcf2db_spark.registry import OAVG, OSUM, davg, dq, dsum, r6, z6

_RRF_K = 60.0
_FUSION_TERMS = ("join", "window", "scan")  # same query as search_bm25


def _pid_rank(df, order_cols, alias):
    """ROW_NUMBER over an already-bounded candidate list (post
    orderBy+limit): collapse to ONE partition deliberately and window
    over the explicit partition id — the plan states the single task
    (the rank_and_ntile small-side idiom; the plan guard allows it)."""
    one = df.repartition(1).withColumn("_pid", F.spark_partition_id())
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return one.withColumn(alias, F.row_number().over(w)).drop("_pid")


# --------------------------------------------------------------------------
# Hybrid retrieval — reciprocal-rank fusion of a lexical (tf-idf) and a
# semantic (embedding-cosine) ranking for one query. The standard
# two-tower serving fusion; both candidate lists are top-20 bounded, so
# the fusion itself is driver-free and tiny.
# --------------------------------------------------------------------------


@dq(
    "rank_fusion",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks WHERE tok IN ('join', 'window', 'scan') GROUP BY 1, 2),
    dfs AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    lex AS (
      SELECT doc_id,
             {OSUM("tf * LN((CAST(n AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0))")} AS score
      FROM tf JOIN dfs USING (tok), nd GROUP BY doc_id, n
    ),
    lex20 AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS lex_rank
      FROM lex ORDER BY score DESC, doc_id LIMIT 20
    ),
    q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      FROM embeddings WHERE vec_id = 0
    ),
    sem AS (
      SELECT vec_id,
             (ROUND(list_dot_product(ee, qe)
                    / (SQRT(list_dot_product(ee, ee))
                       * SQRT(list_dot_product(qe, qe))), 6) + 0.0) AS cosine
      FROM (SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ee
            FROM embeddings WHERE vec_id <> 0) CROSS JOIN q
    ),
    sem20 AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS sem_rank
      FROM sem ORDER BY cosine DESC, vec_id LIMIT 20
    )
    SELECT COALESCE(l.doc_id, s.vec_id) AS doc_id,
           COALESCE(l.lex_rank, 0) AS lex_rank,
           COALESCE(s.sem_rank, 0) AS sem_rank,
           (ROUND((CASE WHEN l.doc_id IS NULL THEN 0.0
                        ELSE 1.0 / ({_RRF_K} + l.lex_rank) END)
                  + (CASE WHEN s.vec_id IS NULL THEN 0.0
                          ELSE 1.0 / ({_RRF_K} + s.sem_rank) END), 6)
            + 0.0) AS rrf
    FROM lex20 l FULL JOIN sem20 s ON l.doc_id = s.vec_id
    ORDER BY rrf DESC, doc_id LIMIT 20
    """,
)
def rank_fusion(spark, sf_dir):
    """Reciprocal-rank fusion (k=60) of tf-idf lexical top-20 and
    cosine semantic top-20 (query = embedding 0 / terms 'join window
    scan'). Ranks are integers from fixed-point-deterministic scores
    (dsum lexical, z6 cosine), so 1/(k+rank) is the identical double on
    both engines; both lists arrive via TakeOrderedAndProject and the
    single-task rank windows are explicit (_pid). At 100 TB the two
    retrieval legs are the scale paths (inverted postings / ANN index);
    the fusion stays O(list length) regardless of corpus size."""
    d = table_wide(spark, sf_dir, "documents", "doc_id")
    toks = d.select(
        "doc_id", F.explode(ws_tokens(F.trim(F.col("text")))).alias("tok")
    )
    nd = d.agg(F.count(F.lit(1)).alias("n"))
    tf = (
        toks.filter(F.col("tok").isin(*_FUSION_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfs = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    lex = (
        tf.join(F.broadcast(dfs), "tok")
        .crossJoin(F.broadcast(nd))
        .groupBy("doc_id")
        .agg(
            dsum(
                F.col("tf")
                * F.log(
                    (F.col("n").cast("double") + 1.0)
                    / (F.col("df").cast("double") + 1.0)
                )
            ).alias("score")
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )
    lex20 = _pid_rank(
        lex, [F.col("score").desc(), "doc_id"], "lex_rank"
    ).select("doc_id", "lex_rank")

    e = table_wide(spark, sf_dir, "embeddings", "vec_id")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    emb, qe = F.col("embedding"), F.col("qe")
    cosine = hof_dot(emb, qe) / (
        F.sqrt(hof_dot(emb, emb)) * F.sqrt(hof_dot(qe, qe))
    )
    sem = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", z6(cosine).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(20)
    )
    sem20 = _pid_rank(
        sem, [F.col("cosine").desc(), "vec_id"], "sem_rank"
    ).select("vec_id", "sem_rank")

    fused = lex20.join(
        sem20, lex20.doc_id == sem20.vec_id, "full_outer"
    )
    in_lex = F.col("lex_rank").isNotNull()
    in_sem = F.col("sem_rank").isNotNull()
    return (
        fused.select(
            F.coalesce(F.col("doc_id"), F.col("vec_id")).alias("doc_id"),
            F.coalesce(F.col("lex_rank"), F.lit(0)).alias("lex_rank"),
            F.coalesce(F.col("sem_rank"), F.lit(0)).alias("sem_rank"),
            z6(
                F.when(in_lex, 1.0 / (_RRF_K + F.col("lex_rank"))).otherwise(
                    0.0
                )
                + F.when(in_sem, 1.0 / (_RRF_K + F.col("sem_rank"))).otherwise(
                    0.0
                )
            ).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Training-label generation — churn labels from behavioral events: the
# label-join every supervised pipeline starts with. One aggregate per
# user; the global horizon is re-derived from the per-user maxima
# (exact, order-free), never a second scan.
# --------------------------------------------------------------------------

# 7-day inactivity horizon (interval arithmetic; see churned below)


@dq(
    "churn_label",
    oracle=f"""
    WITH pu AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(ts) AS last_ts, {OAVG('value')} AS avg_value
      FROM events GROUP BY user_id
    ),
    g AS (SELECT MAX(last_ts) AS gmax FROM pu)
    SELECT user_id, n_events,
           STRFTIME(last_ts, '%Y-%m-%d %H:%M:%S') AS last_seen,
           avg_value,
           CAST(last_ts < gmax - INTERVAL 7 DAY AS INT) AS churned
    FROM pu, g
    """,
)
def churn_label(spark, sf_dir):
    """Per-user churn label (no activity in the final 7 days of the
    observation window) plus the features a churn model trains on
    (event count, mean value). The dataset horizon comes from MAX over
    the per-user maxima — a 1-row broadcast, no second pass — and the
    label compares exact epoch-micros integers, so it is
    timezone/engine-independent. Shape: ONE user-keyed aggregate;
    at 100 TB that's a single map-side-combinable shuffle."""
    e = table_wide(spark, sf_dir, "events", "user_id")
    pu = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("ts").alias("last_ts"),
        davg("value").alias("avg_value"),
    )
    g = pu.agg(F.max("last_ts").alias("gmax"))
    return pu.crossJoin(F.broadcast(g)).select(
        "user_id",
        "n_events",
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
        "avg_value",
        # timestamp-interval arithmetic is NTZ-safe (unix_micros is not)
        # and timezone-free: both sides shift identically, so the
        # comparison is engine- and session-TZ-independent
        (F.col("last_ts") < F.col("gmax") - F.expr("INTERVAL 7 DAYS"))
        .cast("int")
        .alias("churned"),
    )


# --------------------------------------------------------------------------
# Missing-value imputation — sensor-style cleaning: out-of-range
# readings (value > 300) are treated as invalid and imputed with the
# per-type mean of the valid readings. The canonical
# aggregate-then-broadcast-back feature-engineering shape.
# --------------------------------------------------------------------------


@dq(
    "null_impute",
    oracle=f"""
    WITH m AS (
      SELECT event_type,
             {OAVG('CASE WHEN value <= 300 THEN value END')} AS type_mean
      FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type,
           COALESCE(CASE WHEN value <= 300 THEN value END, type_mean)
             AS value_filled,
           CAST(value > 300 AS INT) AS was_imputed
    FROM events e JOIN m ON m.event_type = e.event_type
    """,
)
def null_impute(spark, sf_dir):
    """Impute invalid readings (value > 300 = sensor error) with the
    per-type mean of valid readings. The per-type means are a tiny
    fixed-point aggregate (davg — 6-decimal-exact, so COALESCE emits the
    identical double both engines) broadcast back onto the stream; the
    fill itself is map-only. The imputation never shuffles the fact."""
    e = table_wide(spark, sf_dir, "events", "user_id")
    valid = F.when(F.col("value") <= 300, F.col("value"))
    m = e.groupBy("event_type").agg(davg(valid).alias("type_mean"))
    return e.join(F.broadcast(m), "event_type").select(
        "event_id",
        "event_type",
        F.coalesce(valid, F.col("type_mean")).alias("value_filled"),
        (F.col("value") > 300).cast("int").alias("was_imputed"),
    )


# --------------------------------------------------------------------------
# Collocation mining — pointwise mutual information over doc-level
# co-occurrence of the corpus's 30 most document-frequent tokens. The
# pair generation is ROW-LOCAL (HOF over each doc's sorted top-token
# set), never a self-join of the token stream.
# --------------------------------------------------------------------------


@dq(
    "pmi_pairs",
    oracle=r"""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents)
    ),
    dfs AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM toks GROUP BY 1),
    top AS (SELECT tok, df FROM dfs ORDER BY df DESC, tok LIMIT 30),
    t AS (SELECT doc_id, tok FROM toks JOIN top USING (tok)),
    p AS (
      SELECT a.tok AS ta, b.tok AS tb, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
    SELECT ta, tb, n_ab, x.df AS n_a, y.df AS n_b,
           (ROUND(LN(CAST(n_ab AS DOUBLE) * CAST(n AS DOUBLE)
                     / (CAST(x.df AS DOUBLE) * CAST(y.df AS DOUBLE))), 6)
            + 0.0) AS pmi
    FROM p JOIN top x ON x.tok = p.ta JOIN top y ON y.tok = p.tb, nd
    ORDER BY n_ab DESC, ta, tb LIMIT 50
    """,
)
def pmi_pairs(spark, sf_dir):
    """PMI collocations over the 30 most document-frequent tokens:
    distinct (doc, token) stream → df counts → top-30 (broadcast) →
    per-doc sorted top-token set → ROW-LOCAL pair explosion (nested
    transform HOF, ≤ C(30,2)=435 pairs/doc — the oracle self-joins, the
    Spark side never does) → one pair-keyed count shuffle into ≤ 435
    groups. PMI = ln(n_ab·N / (n_a·n_b)) from exact BIGINT counts. At
    100 TB the bound is docs × C(30,2) generated map-side and combined
    into a constant-size aggregate."""
    d = table_wide(spark, sf_dir, "documents", "doc_id")
    toks = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
        ).alias("tok"),
    )
    dfs = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    top = dfs.orderBy(F.col("df").desc(), "tok").limit(30)
    lists = (
        toks.join(F.broadcast(top.select("tok")), "tok")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("tok")).alias("a"))
    )
    pairs = lists.select(
        F.explode(
            F.expr(
                "flatten(transform(a, (x, i) ->"
                " transform(slice(a, i + 2, size(a)),"
                " y -> struct(x AS ta, y AS tb))))"
            )
        ).alias("p")
    ).select("p.ta", "p.tb")
    pc = pairs.groupBy("ta", "tb").agg(F.count(F.lit(1)).alias("n_ab"))
    nd = d.agg(F.count(F.lit(1)).alias("n"))
    na = top.select(F.col("tok").alias("ta"), F.col("df").alias("n_a"))
    nb = top.select(F.col("tok").alias("tb"), F.col("df").alias("n_b"))
    return (
        pc.join(F.broadcast(na), "ta")
        .join(F.broadcast(nb), "tb")
        .crossJoin(F.broadcast(nd))
        .select(
            "ta",
            "tb",
            "n_ab",
            "n_a",
            "n_b",
            z6(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.col("n").cast("double")
                    / (
                        F.col("n_a").cast("double")
                        * F.col("n_b").cast("double")
                    )
                )
            ).alias("pmi"),
        )
        .orderBy(F.col("n_ab").desc(), "ta", "tb")
        .limit(50)
    )


# --------------------------------------------------------------------------
# Hard-negative mining — for each anchor vector, the top-3
# most-similar vectors with a DIFFERENT label: the contrastive-training
# negative sampler. Anchors broadcast; per-anchor ranking windows are
# keyed (never global).
# --------------------------------------------------------------------------


@dq(
    "hard_negatives",
    oracle="""
    WITH a AS (
      SELECT vec_id AS anchor_id, label AS alabel,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ae
      FROM embeddings WHERE vec_id < 10
    ),
    c AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
      FROM embeddings
    ),
    d AS (
      SELECT anchor_id, vec_id,
             (ROUND(list_dot_product(ce, ae)
                    / (SQRT(list_dot_product(ce, ce))
                       * SQRT(list_dot_product(ae, ae))), 6) + 0.0) AS cosine
      FROM a JOIN c ON c.label <> a.alabel
    )
    SELECT anchor_id, vec_id, cosine, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                   ORDER BY cosine DESC, vec_id) AS rk
      FROM d) WHERE rk <= 3
    """,
)
def hard_negatives(spark, sf_dir):
    """Hard negatives for contrastive training: per anchor (vec_id <
    10), the 3 nearest-by-cosine vectors whose label differs. The
    anchor set broadcasts (label-mismatch BroadcastNestedLoopJoin — a
    bounded ×10 fan-out of the corpus, not a cartesian), cosine folds
    row-local (the sim_topk HOF), ranking is a per-anchor window over
    the z6-rounded score so ordering is engine-identical (negative
    cosines can round to -0.0). At scale the mismatch join becomes the
    ANN index probe with a label filter; the window input stays
    |anchors|·|corpus| partitioned by anchor."""
    e = table_wide(spark, sf_dir, "embeddings", "vec_id")
    a = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("alabel"),
        F.col("embedding").alias("ae"),
    )
    c = e.select("vec_id", "label", "embedding")
    emb, ae = F.col("embedding"), F.col("ae")
    cosine = hof_dot(emb, ae) / (
        F.sqrt(hof_dot(emb, emb)) * F.sqrt(hof_dot(ae, ae))
    )
    j = c.join(F.broadcast(a), c.label != a.alabel).select(
        "anchor_id", "vec_id", z6(cosine).alias("cosine")
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), "vec_id"
    )
    return (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("anchor_id", "vec_id", "cosine", "rk")
    )


# --------------------------------------------------------------------------
# Rank-based feature normalization — per-dimension quantile
# normalization of the embedding population, reduced to a per-vector
# calibration score (mean normalized rank of its components).
# --------------------------------------------------------------------------


@dq(
    "quantile_normalize",
    oracle=f"""
    WITH long AS (
      SELECT vec_id, label,
             unnest(range(len(embedding))) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ),
    r AS (
      SELECT vec_id, label,
             (CAST(ROW_NUMBER() OVER (PARTITION BY pos
                                      ORDER BY val, vec_id) AS DOUBLE) - 1.0)
             / (CAST(COUNT(*) OVER (PARTITION BY pos) AS DOUBLE) - 1.0)
               AS qn
      FROM long
    )
    SELECT vec_id, label, ROUND({OAVG('qn')}, 6) AS mean_qn
    FROM r GROUP BY vec_id, label
    """,
)
def quantile_normalize(spark, sf_dir):
    """Quantile (rank) normalization per embedding dimension — the
    batch-effect remover / feature calibrator: each component maps to
    its normalized rank (rn-1)/(n-1) within its dimension, then each
    vector reports the fixed-point mean of its normalized components.
    Windows partition by DIMENSION (64 independent partitions, each
    population-sized — at 1000 executors each dimension's rank sort is
    one task-parallel partition, never a global sort), ties break on
    vec_id so ranks are engine-identical integers."""
    e = table_wide(spark, sf_dir, "embeddings", "vec_id")
    long = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "val")
    ).select("vec_id", "label", "pos", F.col("val").cast("double").alias("val"))
    w = Window.partitionBy("pos").orderBy("val", "vec_id")
    wc = Window.partitionBy("pos")
    qn = (F.row_number().over(w).cast("double") - 1.0) / (
        F.count(F.lit(1)).over(wc).cast("double") - 1.0
    )
    return (
        long.select("vec_id", "label", qn.alias("qn"))
        .groupBy("vec_id", "label")
        .agg(r6(davg("qn")).alias("mean_qn"))
    )


# --------------------------------------------------------------------------
# Compliance purge audit — the GDPR/right-to-be-forgotten shape: a
# deletion list (closed accounts) anti-joined against the fact, with a
# per-segment audit of what a purge removes vs keeps.
# --------------------------------------------------------------------------


@dq(
    "purge_audit",
    oracle=f"""
    WITH del AS (
      SELECT c_custkey FROM customer WHERE c_acctbal < 0
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(del.c_custkey) AS BIGINT) AS n_purged,
           CAST(COUNT(CASE WHEN del.c_custkey IS NULL THEN 1 END) AS BIGINT)
             AS n_kept,
           {OSUM("CASE WHEN del.c_custkey IS NULL THEN o_totalprice ELSE 0.0 END")}
             AS kept_value
    FROM orders o LEFT JOIN del ON del.c_custkey = o.o_custkey
    GROUP BY o_orderpriority
    """,
)
def purge_audit(spark, sf_dir):
    """Right-to-be-forgotten audit: orders belonging to closed accounts
    (c_acctbal < 0) are flagged by a BROADCAST left join against the
    deletion list (the list is always dim-sized; the fact never
    shuffles), then one aggregate reports per-priority purge/keep counts
    and the fixed-point value retained. The actual purge is the same
    plan with the flag inverted into an anti-join filter — auditing and
    purging share one scan shape at any scale."""
    dl = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select("c_custkey")
    )
    o = table(spark, sf_dir, "orders")
    j = o.join(
        F.broadcast(dl), F.col("c_custkey") == F.col("o_custkey"), "left"
    )
    kept = F.col("c_custkey").isNull()
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count("c_custkey").alias("n_purged"),
        F.count(F.when(kept, 1)).alias("n_kept"),
        dsum(F.when(kept, F.col("o_totalprice")).otherwise(0.0)).alias(
            "kept_value"
        ),
    )


# --------------------------------------------------------------------------
# Robust statistics — winsorized mean per event_type with p05/p95
# fences as exact ORDER STATISTICS over the distinct-value histogram
# (never percentile interpolation, which diverges between engines).
# --------------------------------------------------------------------------


@dq(
    "winsorize",
    oracle="""
    WITH c AS (
      SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    k AS (
      SELECT event_type, value, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY value
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS tot
      FROM c
    ),
    f AS (
      SELECT event_type, MAX(tot) AS n,
             MIN(CASE WHEN cum >= CEIL(0.05 * CAST(tot AS DOUBLE))
                      THEN value END) AS lo,
             MIN(CASE WHEN cum >= CEIL(0.95 * CAST(tot AS DOUBLE))
                      THEN value END) AS hi
      FROM k GROUP BY event_type
    )
    SELECT c.event_type, CAST(f.n AS BIGINT) AS n, f.lo, f.hi,
           (CAST(ROUND(CAST(SUM(CAST(ROUND(LEAST(GREATEST(c.value, f.lo),
                                                 f.hi) * 1000000.0)
                                     AS BIGINT) * c.cnt) AS DOUBLE)
                       / CAST(f.n AS DOUBLE)) AS DOUBLE) / 1000000.0)
             AS wmean
    FROM c JOIN f ON f.event_type = c.event_type
    GROUP BY c.event_type, f.n, f.lo, f.hi
    """,
)
def winsorize(spark, sf_dir):
    """Winsorized mean per event_type: p05/p95 fences as exact order
    statistics read off the cumulative counts of the DISTINCT-VALUE
    histogram (values are 2-decimal, so the histogram is bounded —
    ~60k cells regardless of row count; the same pre-agg-before-window
    shape as drift_ks), values clamped to the fences, and the mean in
    1e-6 fixed point weighted by the histogram counts — one fact scan,
    one histogram shuffle, everything after runs at histogram
    cardinality. Interpolating percentiles (percentile_cont) is the
    classic cross-engine divergence; order statistics are integers."""
    e = table_wide(spark, sf_dir, "events", "user_id").filter(
        F.col("value").isNotNull()
    )
    c = e.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("event_type")
    k = c.select(
        "event_type",
        "value",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wtot).alias("tot"),
    )
    totd = F.col("tot").cast("double")
    f = k.groupBy("event_type").agg(
        F.max("tot").alias("n"),
        F.min(
            F.when(F.col("cum") >= F.ceil(0.05 * totd), F.col("value"))
        ).alias("lo"),
        F.min(
            F.when(F.col("cum") >= F.ceil(0.95 * totd), F.col("value"))
        ).alias("hi"),
    )
    j = c.join(F.broadcast(f), "event_type")
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    units = F.sum(
        F.round(clamped * 1_000_000.0).cast("long") * F.col("cnt")
    )
    return j.groupBy("event_type", "n", "lo", "hi").agg(
        (
            F.round(units.cast("double") / F.col("n").cast("double")).cast(
                "double"
            )
            / F.lit(1_000_000.0)
        ).alias("wmean")
    ).select("event_type", F.col("n").cast("bigint").alias("n"), "lo", "hi", "wmean")


# --------------------------------------------------------------------------
# Corpus comparison — discriminative tokens per source via smoothed
# log-odds ratio vs the rest of the corpus (the "fightin' words"
# construction with +0.5 smoothing). All inputs are exact BIGINT
# counts; the per-source leaderboards are vocab-bounded windows.
# --------------------------------------------------------------------------


@dq(
    "log_odds_tokens",
    oracle=r"""
    WITH toks AS (
      SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ),
    c AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
          FROM toks GROUP BY 1, 2),
    ts AS (SELECT source, CAST(SUM(n) AS BIGINT) AS tot_s FROM c GROUP BY 1),
    cw AS (SELECT tok, CAST(SUM(n) AS BIGINT) AS c_w FROM c GROUP BY 1),
    tt AS (SELECT CAST(SUM(tot_s) AS BIGINT) AS t FROM ts),
    lo AS (
      SELECT c.source, c.tok, c.n,
             (ROUND(LN((CAST(n AS DOUBLE) + 0.5)
                       / (CAST(tot_s - n AS DOUBLE) + 0.5))
                    - LN((CAST(c_w - n AS DOUBLE) + 0.5)
                         / (CAST(t - tot_s - (c_w - n) AS DOUBLE) + 0.5)), 6)
              + 0.0) AS log_odds
      FROM c JOIN ts USING (source) JOIN cw USING (tok), tt
      WHERE c_w >= 20
    )
    SELECT source, tok, n, log_odds FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY log_odds DESC, tok) AS rk
      FROM lo) WHERE rk <= 5
    """,
)
def log_odds_tokens(spark, sf_dir):
    """Top-5 discriminative tokens per source: smoothed log-odds of the
    token's rate inside the source vs the rest of the corpus (corpus
    count >= 20 for stability). One (source, tok) count shuffle; source
    totals broadcast (|sources| rows), token totals re-aggregate FROM
    the pair counts and join back token-co-partitioned, the grand total
    is a broadcast scalar. The leaderboard windows partition by source
    over vocab-bounded rows — at 100 TB everything after the first
    exchange runs at vocabulary cardinality."""
    d = table_wide(spark, sf_dir, "documents", "doc_id")
    toks = d.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    )
    c = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n"))
    ts = c.groupBy("source").agg(F.sum("n").alias("tot_s"))
    cw = c.groupBy("tok").agg(F.sum("n").alias("c_w"))
    tt = ts.agg(F.sum("tot_s").alias("t"))
    nd, tsd = F.col("n").cast("double"), F.col("tot_s").cast("double")
    rest = (F.col("c_w") - F.col("n")).cast("double")
    rest_tot = (F.col("t") - F.col("tot_s") - (F.col("c_w") - F.col("n"))).cast(
        "double"
    )
    lo = (
        c.join(F.broadcast(ts), "source")
        .join(cw, "tok")
        .crossJoin(F.broadcast(tt))
        .filter(F.col("c_w") >= 20)
        .select(
            "source",
            "tok",
            "n",
            z6(
                F.log((nd + 0.5) / (tsd - nd + 0.5))
                - F.log((rest + 0.5) / (rest_tot + 0.5))
            ).alias("log_odds"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("log_odds").desc(), "tok")
    return (
        lo.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("source", "tok", "n", "log_odds")
    )


# --------------------------------------------------------------------------
# Embedding QA — distance-to-centroid outliers per label (moment-based
# z-score; flags mislabeled / corrupted vectors before training).
# --------------------------------------------------------------------------


@dq(
    "embed_outliers",
    oracle=f"""
    WITH cells AS (
      SELECT vec_id, label,
             unnest(range(len(embedding))) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ),
    cent AS (
      SELECT label, pos, {OAVG('val')} AS c
      FROM cells GROUP BY label, pos
    ),
    d AS (
      SELECT vec_id, cells.label,
             {OSUM('(val - c) * (val - c)')} AS d2
      FROM cells JOIN cent ON cent.label = cells.label
                          AND cent.pos = cells.pos
      GROUP BY vec_id, cells.label
    ),
    m AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
             {OSUM('d2')} AS s1, {OSUM('d2 * d2')} AS s2
      FROM d GROUP BY label
    )
    SELECT vec_id, d.label, d2,
           (ROUND((d2 - s1 / n_vecs)
                  / SQRT(s2 / n_vecs - (s1 / n_vecs) * (s1 / n_vecs)), 6)
            + 0.0) AS z
    FROM d JOIN m ON m.label = d.label
    WHERE s2 / n_vecs - (s1 / n_vecs) * (s1 / n_vecs) > 0.0
      AND (d2 - s1 / n_vecs)
          / SQRT(s2 / n_vecs - (s1 / n_vecs) * (s1 / n_vecs)) > 2.0
    """,
)
def embed_outliers(spark, sf_dir):
    """Embedding outlier screen: squared distance to the label centroid
    (per-cell fixed-point terms against the 6-decimal-exact davg
    centroid), then a moment-based z-score per label (mean/std from
    fixed-point sums of d2 and d2² — identical double expressions both
    engines), flagging z > 2. Shapes: one (label,pos) centroid
    aggregate (centroid table is labels×dims — broadcast), one per-vec
    reduction, one label-level stats broadcast. No medians/percentiles:
    moments keep the whole screen two map-side-combinable aggregates at
    any scale."""
    e = table_wide(spark, sf_dir, "embeddings", "vec_id")
    cells = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "vec_id", "label", "pos", F.col("val").cast("double").alias("val")
    )
    cent = cells.groupBy("label", "pos").agg(davg("val").alias("c"))
    diff = F.col("val") - F.col("c")
    d = (
        cells.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(dsum(diff * diff).alias("d2"))
    )
    m = d.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        dsum("d2").alias("s1"),
        dsum(F.col("d2") * F.col("d2")).alias("s2"),
    )
    nv = F.col("n_vecs").cast("double")
    mean = F.col("s1") / nv
    var = F.col("s2") / nv - mean * mean
    z = (F.col("d2") - mean) / F.sqrt(var)
    # a degenerate label (all distances identical -> var 0) would hit
    # ANSI division-by-zero: exclude it identically on both sides
    return (
        d.join(F.broadcast(m), "label")
        .filter((var > 0.0) & (z > 2.0))
        .select("vec_id", "label", "d2", z6(z).alias("z"))
    )


# --------------------------------------------------------------------------
# Irregular time series — per-user TIME-WEIGHTED average value
# (forward-interval weighting): the TSDB aggregate that plain AVG gets
# wrong on irregular samples. Weights are integer seconds, values
# integer cents — the quotient is exact-integer-derived.
# --------------------------------------------------------------------------


@dq(
    "twa_value",
    oracle="""
    WITH s AS (
      SELECT user_id, value, epoch_us(ts) AS uts, event_id
      FROM events WHERE value IS NOT NULL
    ),
    d AS (
      SELECT user_id, value,
             (LEAD(uts) OVER (PARTITION BY user_id
                              ORDER BY uts, event_id) - uts) // 1000000
               AS dt_s
      FROM s
    ),
    a AS (
      SELECT user_id,
             CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT) * dt_s) AS BIGINT)
               AS num_cents,
             CAST(SUM(dt_s) AS BIGINT) AS span_s,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM d WHERE dt_s IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, n_events, span_s,
           (ROUND(CAST(num_cents AS DOUBLE)
                  / (100.0 * CAST(span_s AS DOUBLE)), 6) + 0.0) AS twa
    FROM a WHERE span_s > 0
    """,
)
def twa_value(spark, sf_dir):
    """Time-weighted average per user: each reading holds until the
    next one (forward fill), so its weight is the whole seconds to the
    next event (integer DIV — identical truncation both engines; ts →
    epoch micros via the UTC-pinned LTZ cast). Numerator sums exact
    cents×seconds BIGINTs, so the final quotient is derived from two
    exact integers. The lead() window partitions per user; the
    aggregate reuses the same key, so one exchange serves both. The
    last reading (no successor) carries zero weight by construction."""
    e = table_wide(spark, sf_dir, "events", "user_id").filter(
        F.col("value").isNotNull()
    )
    uts = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    s = e.select("user_id", "value", uts.alias("uts"), "event_id")
    w = Window.partitionBy("user_id").orderBy("uts", "event_id")
    d = s.select(
        "user_id",
        "value",
        ((F.lead("uts").over(w) - F.col("uts")) / F.lit(1_000_000))
        .cast("long")
        .alias("dt_s"),
    )
    # integer DIV semantics: micros are non-negative deltas, so
    # double-divide + cast(long) truncates exactly like // 1000000
    a = (
        d.filter(F.col("dt_s").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(
                F.round(F.col("value") * 100.0).cast("long") * F.col("dt_s")
            ).alias("num_cents"),
            F.sum("dt_s").alias("span_s"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    return a.filter(F.col("span_s") > 0).select(
        "user_id",
        "n_events",
        "span_s",
        z6(
            F.col("num_cents").cast("double")
            / (100.0 * F.col("span_s").cast("double"))
        ).alias("twa"),
    )


# --------------------------------------------------------------------------
# Concentration / whale analysis — per event_type, how few users drive
# half the value (the "whale set"), plus the top contributor's share.
# --------------------------------------------------------------------------


@dq(
    "whale_share",
    oracle="""
    WITH pu AS (
      SELECT event_type, user_id,
             CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    k AS (
      SELECT event_type, user_id, cents,
             SUM(cents) OVER (PARTITION BY event_type
                              ORDER BY cents DESC, user_id
                              ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cents) OVER (PARTITION BY event_type) AS tot,
             MAX(cents) OVER (PARTITION BY event_type) AS top1
      FROM pu
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(CASE WHEN CAST(cum - cents AS DOUBLE)
                                < 0.5 * CAST(tot AS DOUBLE)
                           THEN 1 END) AS BIGINT) AS n_whales,
           (ROUND(CAST(MAX(top1) AS DOUBLE) / CAST(MAX(tot) AS DOUBLE), 6)
            + 0.0) AS top1_share,
           (CAST(MAX(tot) AS DOUBLE) / 100.0) AS total_value
    FROM k GROUP BY event_type
    """,
)
def whale_share(spark, sf_dir):
    """Whale analysis per event_type: users ranked by exact-cent
    contribution; a user is in the whale set while the PRIOR cumulative
    is still under half the total (so the set is the minimal prefix
    reaching 50%). All comparisons on exact BIGINT cents; shares round
    z6. The ranking window partitions per type over USER-grain rows
    (the per-user pre-aggregate is what shuffles, never raw events); at
    extreme per-type user cardinality the rank swaps to the two-phase
    distributed form (operators/ranking.py) with the same outputs."""
    e = table_wide(spark, sf_dir, "events", "user_id").filter(
        F.col("value").isNotNull()
    )
    pu = e.groupBy("event_type", "user_id").agg(
        F.sum(F.round(F.col("value") * 100.0).cast("long")).alias("cents")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy(F.col("cents").desc(), "user_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("event_type")
    k = pu.select(
        "event_type",
        "cents",
        F.sum("cents").over(wcum).alias("cum"),
        F.sum("cents").over(wtot).alias("tot"),
        F.max("cents").over(wtot).alias("top1"),
    )
    whale = (F.col("cum") - F.col("cents")).cast("double") < 0.5 * F.col(
        "tot"
    ).cast("double")
    return k.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.when(whale, 1)).alias("n_whales"),
        z6(
            F.max("top1").cast("double") / F.max("tot").cast("double")
        ).alias("top1_share"),
        (F.max("tot").cast("double") / F.lit(100.0)).alias("total_value"),
    )


# --------------------------------------------------------------------------
# RFM segmentation — recency/frequency/monetary quintiles per user via
# broadcast exact quintile BOUNDARIES over one fused range exchange
# (no global single-task window, no per-metric rank passes), rolled up
# to segment sizes. The classic CRM / reward-model cohorting.
# --------------------------------------------------------------------------

_RFM_LC = Lifecycle()


@dq(
    "rfm_segments",
    oracle=f"""
    WITH pu AS (
      SELECT user_id, MAX(epoch_us(ts)) AS last_uts,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE value IS NOT NULL GROUP BY user_id
    ),
    q AS (
      SELECT user_id, n_events, cents,
             NTILE(5) OVER (ORDER BY last_uts, user_id) AS r_q,
             NTILE(5) OVER (ORDER BY n_events, user_id) AS f_q,
             NTILE(5) OVER (ORDER BY cents, user_id) AS m_q
      FROM pu
    )
    SELECT r_q, f_q, m_q, CAST(COUNT(*) AS BIGINT) AS n_users,
           {OAVG('CAST(cents AS DOUBLE) / 100.0')} AS avg_value
    FROM q GROUP BY r_q, f_q, m_q
    """,
)
def rfm_segments(spark, sf_dir):
    """RFM quintile segmentation via broadcast quintile BOUNDARIES, not
    three rank passes (the r5→r6 rewrite: 6 range-exchange stages → 1
    size-dispatched boundary scan).

    NTILE(5) ordered by (key, user_id) is a pure function of a row's
    position relative to the four tile-boundary pairs, so: (1) persist
    the user-grain aggregate (one row per user — bounded far below the
    event grain; release-on-next-call lifecycle) and count it, which
    both materializes the cache and gives the exact n that makes every
    tile-end rank (t·⌊n/5⌋ + min(t, n mod 5)) a literal; (2) unpivot to
    3n (metric, key, user_id) rows and pull the 12 boundary rows —
    below 1M users a deliberate single-partition window over the cached
    unpivot (the rank_and_ntile small-side idiom: ~45k rows at sf1,
    where the two-phase machinery is pure scheduling overhead), above
    it the metric-major two-phase global row_number (operators/
    ranking.py range exchange; per-metric rank = rn − (metric−1)·n
    since each metric contributes exactly n rows) filtered to the 12
    literal global ranks; (3) collapse them to ONE broadcast row of
    boundary structs; (4) assign all three tiles map-only on the cached
    user grain by counting boundaries strictly below each row's
    (key, user_id) struct. Nothing user-grain shuffles after the
    boundary scan and the only driver-adjacent state is n and the
    1-row boundary table — the shape that survives 100 TB. Ties break
    on user_id so every boundary is engine-identical; empty top tiles
    (n < 5) surface as NULL boundaries which the counter skips."""
    from vcf2db_spark.operators.ranking import _row_number_parts

    e = table_wide(spark, sf_dir, "events", "user_id").filter(
        F.col("value").isNotNull()
    )
    _RFM_LC.release()
    pu = (
        e.groupBy("user_id")
        .agg(
            F.max(F.unix_micros(F.col("ts").cast("timestamp_ltz"))).alias(
                "last_uts"
            ),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100.0).cast("long")).alias(
                "cents"
            ),
        )
        .persist()
    )
    _RFM_LC.hold_df(pu)
    n = pu.count()
    base, big = n // 5, n % 5
    ends = [t * base + min(t, big) for t in range(1, 5)]
    metrics = [("r", "last_uts"), ("f", "n_events"), ("m", "cents")]
    unpiv = pu.select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i + 1).alias("metric"),
                        F.col(c).cast("long").alias("key"),
                    )
                    for i, (_tag, c) in enumerate(metrics)
                ]
            )
        ).alias("mk"),
    ).select(
        F.col("mk.metric").alias("metric"),
        F.col("mk.key").alias("key"),
        "user_id",
    )
    if n <= 1_000_000:
        one = unpiv.repartition(1).withColumn("_pid", F.spark_partition_id())
        w = Window.partitionBy("_pid", "metric").orderBy("key", "user_id")
        ranked = one.withColumn("_rnm", F.row_number().over(w).cast("bigint"))
    else:
        rn_df, _counts = _row_number_parts(
            unpiv, ["metric", "key", "user_id"], "_grn", None
        )
        ranked = rn_df.withColumn(
            "_rnm", F.col("_grn") - (F.col("metric") - 1) * F.lit(n)
        )
    bounds = ranked.filter(F.col("_rnm").isin(ends))
    agg_cols = []
    for i, (tag, _c) in enumerate(metrics):
        for t in range(1, 5):
            agg_cols.append(
                F.max(
                    F.when(
                        (F.col("metric") == i + 1)
                        & (F.col("_rnm") == F.lit(ends[t - 1])),
                        F.struct(F.col("key"), F.col("user_id")),
                    )
                ).alias(f"_{tag}{t}")
            )
    brow = bounds.groupBy().agg(*agg_cols)

    def tile(tag: str, col: str):
        p = F.struct(F.col(col).cast("long").alias("key"), F.col("user_id"))
        hits = [
            F.when(
                F.col(f"_{tag}{t}").isNotNull() & (p > F.col(f"_{tag}{t}")), 1
            ).otherwise(0)
            for t in range(1, 5)
        ]
        out = F.lit(1)
        for h in hits:
            out = out + h
        return out.cast("bigint")

    q = pu.crossJoin(F.broadcast(brow)).select(
        tile("r", "last_uts").alias("r_q"),
        tile("f", "n_events").alias("f_q"),
        tile("m", "cents").alias("m_q"),
        "cents",
    )
    return q.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).alias("n_users"),
        davg(F.col("cents").cast("double") / 100.0).alias("avg_value"),
    )


# --------------------------------------------------------------------------
# Behavioral journeys — gaps-and-islands sessionization (30-minute
# inactivity gap) into the top-10 event-type PATHS: the product-analytics
# "user journey" query. The session id is a per-user cumulative flag
# sum; paths assemble ROW-LOCALLY from per-session collected structs.
# --------------------------------------------------------------------------


@dq(
    "session_paths",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS uts
      FROM events
    ),
    f AS (
      SELECT user_id, event_id, event_type, uts,
             CASE WHEN uts - LAG(uts) OVER (PARTITION BY user_id
                                            ORDER BY uts, event_id)
                       > 1800000000 THEN 1
                  WHEN LAG(uts) OVER (PARTITION BY user_id
                                      ORDER BY uts, event_id) IS NULL THEN 1
                  ELSE 0 END AS new_s
      FROM s
    ),
    g AS (
      SELECT user_id, event_type, uts, event_id,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY uts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM f
    ),
    p AS (
      SELECT user_id, sid,
             STRING_AGG(event_type, '>' ORDER BY uts, event_id) AS path,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM g GROUP BY user_id, sid
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n) AS BIGINT) AS total_events
    FROM p WHERE n <= 8
    GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 10
    """,
)
def session_paths(spark, sf_dir):
    """Top-10 user journeys: sessions are gaps-and-islands (new session
    when >30 min since the user's previous event — lag + cumulative
    flag sum, both windows on the user key, so ONE exchange feeds
    sessionization AND the per-session path build), each session's path
    assembles row-locally (array_sort of (uts, event_id, type) structs
    → transform → join — deterministic total order, no second shuffle),
    and only the path-keyed count moves afterward. Paths cap at 8
    events so a pathological always-on user cannot mint an unbounded
    group key. TakeOrderedAndProject serves the top-10."""
    e = table_wide(spark, sf_dir, "events", "user_id")
    uts = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    s = e.select(
        "user_id", "event_id", "event_type", uts.alias("uts")
    )
    wo = Window.partitionBy("user_id").orderBy("uts", "event_id")
    prev = F.lag("uts").over(wo)
    f = s.select(
        "user_id",
        "event_id",
        "event_type",
        "uts",
        F.when(prev.isNull() | ((F.col("uts") - prev) > 1_800_000_000), 1)
        .otherwise(0)
        .alias("new_s"),
    )
    g = f.select(
        "user_id",
        "event_type",
        "uts",
        "event_id",
        F.sum("new_s")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sid"),
    )
    p = (
        g.groupBy("user_id", "sid")
        .agg(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list("
                    "struct(uts, event_id, event_type))),"
                    " x -> x.event_type)"
                ),
                ">",
            ).alias("path"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return (
        p.filter(F.col("n") <= 8)
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n").alias("total_events"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Uncertainty quantification — bootstrap confidence interval for the
# per-type mean via the POISSON BOOTSTRAP (the streaming/distributed
# bootstrap: each row's multiplicity in replicate j is Poisson(1),
# derived here from a deterministic Knuth hash so both engines draw the
# IDENTICAL resamples). B=40 replicates; CI bounds are order statistics
# over the replicate means.
# --------------------------------------------------------------------------

_B_REPS = 40
# Poisson(1) CDF thresholds (u < t_k -> count k), identical literals on
# both engines so the hash-uniform comparison is bit-identical
_POIS = "CASE WHEN {u} < 0.3678794412 THEN 0 WHEN {u} < 0.7357588823 THEN 1 WHEN {u} < 0.9196986029 THEN 2 WHEN {u} < 0.9810118431 THEN 3 WHEN {u} < 0.9963401532 THEN 4 ELSE 5 END"


def _bootstrap_oracle():
    from vcf2db_spark.queries.training import knuth_hash_sql

    h = knuth_hash_sql(f"(event_id * {_B_REPS * 2} + rep)", "//")
    c = _POIS.format(u=f"(({h}) / 4294967296.0)")
    return f"""
    WITH src AS (
      SELECT event_id, event_type, value FROM events
      WHERE value IS NOT NULL
    ),
    x AS (
      SELECT event_type, value, event_id, unnest(range({_B_REPS})) AS rep
      FROM src
    ),
    g AS (
      SELECT event_type, rep,
             CAST(SUM(CAST(ROUND(value * 1000000.0) AS BIGINT)
                      * ({c})) AS BIGINT) AS su,
             CAST(SUM({c}) AS BIGINT) AS sc
      FROM x GROUP BY 1, 2 HAVING SUM({c}) > 0
    ),
    m AS (
      SELECT event_type, rep,
             CAST(su AS DOUBLE) / CAST(sc AS DOUBLE) / 1000000.0 AS mr
      FROM g
    ),
    r AS (
      SELECT event_type, mr,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY mr, rep) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS nb
      FROM m
    ),
    p AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
             {{OAVG}} AS mean_value
      FROM src GROUP BY 1
    )
    SELECT r.event_type, n_rows, mean_value,
           (ROUND(MIN(CASE WHEN rn = CAST(CEIL(0.025 * nb) AS BIGINT)
                           THEN mr END), 6) + 0.0) AS ci_lo,
           (ROUND(MIN(CASE WHEN rn = CAST(CEIL(0.975 * nb) AS BIGINT)
                           THEN mr END), 6) + 0.0) AS ci_hi
    FROM r JOIN p ON p.event_type = r.event_type
    GROUP BY r.event_type, n_rows, mean_value
    """.replace("{OAVG}", OAVG("value"))


@dq("bootstrap_ci", oracle=_bootstrap_oracle())
def bootstrap_ci(spark, sf_dir):
    """95% bootstrap CI for each event_type's mean value, by the
    POISSON BOOTSTRAP: replicate j resamples each row with
    multiplicity Poisson(1), realized deterministically from a Knuth
    hash of (event_id, replicate) mapped through the Poisson CDF — so
    the 'random' draws are bit-identical across engines AND across
    cluster topologies (no RNG state, no seed-per-partition trap: the
    standard way to bootstrap a distributed stream). One map-side
    ×B=40 explode feeds a partial-aggregated (type, rep) reduction —
    the shuffle moves types×B rows, never the resampled stream — and
    the CI bounds are order statistics over B replicate means (windows
    on B-sized partitions). The point estimate comes from the plain
    fixed-point mean of the source rows."""
    from vcf2db_spark.queries.training import knuth_hash_sql

    e = table_wide(spark, sf_dir, "events", "user_id").filter(
        F.col("value").isNotNull()
    )
    src = e.select("event_id", "event_type", "value")
    x = src.select(
        "event_type",
        "value",
        "event_id",
        F.explode(F.sequence(F.lit(0), F.lit(_B_REPS - 1))).alias("rep"),
    )
    h = knuth_hash_sql(f"(event_id * {_B_REPS * 2} + rep)", "DIV")
    c = F.expr(_POIS.format(u=f"(({h}) / 4294967296.0)"))
    g = (
        x.select(
            "event_type",
            "rep",
            (F.round(F.col("value") * 1_000_000.0).cast("long") * c).alias(
                "wu"
            ),
            c.alias("c"),
        )
        .groupBy("event_type", "rep")
        .agg(F.sum("wu").alias("su"), F.sum("c").alias("sc"))
        .filter(F.col("sc") > 0)
    )
    mr = (
        F.col("su").cast("double") / F.col("sc").cast("double")
        / F.lit(1_000_000.0)
    )
    m = g.select("event_type", "rep", mr.alias("mr"))
    wo = Window.partitionBy("event_type").orderBy("mr", "rep")
    wc = Window.partitionBy("event_type")
    r = m.select(
        "event_type",
        "mr",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("nb"),
    )
    nbd = F.col("nb").cast("double")
    ci = r.groupBy("event_type").agg(
        z6(
            F.min(F.when(F.col("rn") == F.ceil(0.025 * nbd), F.col("mr")))
        ).alias("ci_lo"),
        z6(
            F.min(F.when(F.col("rn") == F.ceil(0.975 * nbd), F.col("mr")))
        ).alias("ci_hi"),
    )
    p = src.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        davg("value").alias("mean_value"),
    )
    return ci.join(F.broadcast(p), "event_type").select(
        "event_type", "n_rows", "mean_value", "ci_lo", "ci_hi"
    )


# --------------------------------------------------------------------------
# Generalization / memorization metric — per-test-document n-gram
# NOVELTY: the fraction of a held-out document's distinct trigrams
# never seen in the training split. The eval every data pipeline runs
# to detect train/test leakage and quantify memorization headroom.
# --------------------------------------------------------------------------


def _novelty_oracle():
    from vcf2db_spark.queries.training import knuth_hash_sql

    h = knuth_hash_sql("doc_id", "//")
    return rf"""
    WITH toks AS (
      SELECT doc_id, ({h}) % 100 < 80 AS is_train,
             string_split_regex(trim(text), '\s+') AS l
      FROM documents
    ),
    tri AS (
      SELECT DISTINCT doc_id, is_train,
             l[i] || ' ' || l[i + 1] || ' ' || l[i + 2] AS g
      FROM (SELECT doc_id, is_train, l, unnest(range(1, len(l) - 1)) AS i
            FROM toks)
    ),
    train_g AS (SELECT DISTINCT g FROM tri WHERE is_train),
    test_g AS (SELECT doc_id, g FROM tri WHERE NOT is_train),
    u AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_unseen
      FROM test_g ANTI JOIN train_g USING (g)
      GROUP BY doc_id
    ),
    t AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri
      FROM test_g GROUP BY doc_id
    )
    SELECT t.doc_id, n_tri, COALESCE(n_unseen, 0) AS n_unseen,
           (ROUND(CAST(COALESCE(n_unseen, 0) AS DOUBLE)
                  / CAST(n_tri AS DOUBLE), 6) + 0.0) AS novelty
    FROM t LEFT JOIN u ON u.doc_id = t.doc_id
    """


@dq("ngram_novelty", oracle=_novelty_oracle())
def ngram_novelty(spark, sf_dir):
    """Trigram novelty of each held-out document vs the 80% train
    split (Knuth-hash split — the split_leakage convention): distinct
    per-doc trigrams form row-locally (indexed transform over the token
    array, the ngram_lm idiom — no self-join), the train trigram
    vocabulary is one distinct aggregate, and unseen test trigrams fall
    out of a trigram-keyed LEFT ANTI join. All counts exact BIGINTs.
    At 100 TB both sides of the anti join are n-gram streams partially
    aggregated before the exchange — the join key is the trigram, so
    the shuffle moves vocabulary, not documents; this is the same
    postings-shaped join as contam_ngram, pointed at generalization
    instead of contamination."""
    from vcf2db_spark.queries.training import knuth_hash_sql

    d = table_wide(spark, sf_dir, "documents", "doc_id")
    is_train = F.expr(knuth_hash_sql("doc_id", "DIV")) % 100 < 80
    toks = d.select(
        "doc_id",
        is_train.alias("is_train"),
        F.split(F.trim(F.col("text")), r"\s+").alias("l"),
    )
    tri = toks.select(
        "doc_id",
        "is_train",
        F.explode(
            F.expr(
                "transform(slice(l, 1, greatest(size(l) - 2, 0)),"
                " (w, i) -> concat_ws(' ', w, l[i + 1], l[i + 2]))"
            )
        ).alias("g"),
    ).distinct()
    train_g = tri.filter(F.col("is_train")).select("g").distinct()
    test_g = tri.filter(~F.col("is_train")).select("doc_id", "g")
    t = test_g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tri"))
    u = (
        test_g.join(train_g, "g", "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_unseen"))
    )
    return t.join(u, "doc_id", "left").select(
        "doc_id",
        "n_tri",
        F.coalesce(F.col("n_unseen"), F.lit(0)).alias("n_unseen"),
        z6(
            F.coalesce(F.col("n_unseen"), F.lit(0)).cast("double")
            / F.col("n_tri").cast("double")
        ).alias("novelty"),
    )


# --------------------------------------------------------------------------
# Model evaluation — calibration (reliability) bins for a toy logistic
# score predicting "another event within the hour": per-decile average
# score vs observed rate, the per-bin components of expected
# calibration error (ECE). The operator is the content; the score is a
# stand-in for any model column.
# --------------------------------------------------------------------------


@dq(
    "calibration_bins",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS uts
      FROM events WHERE value IS NOT NULL
    ),
    y AS (
      SELECT value,
             CASE WHEN LEAD(uts) OVER (PARTITION BY user_id
                                       ORDER BY uts, event_id) - uts
                       < 3600000000 THEN 1 ELSE 0 END AS y
      FROM s
    ),
    m AS (
      SELECT {OAVG('value')} AS mu,
             {OSUM('value * value')} AS s2,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM s
    ),
    p AS (
      SELECT y,
             1.0 / (1.0 + EXP(-((value - mu)
                                / SQRT(s2 / n - mu * mu)))) AS p_hat
      FROM y, m
    )
    SELECT LEAST(CAST(FLOOR(p_hat * 10) AS INT), 9) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           {OAVG('p_hat')} AS avg_score,
           (ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) + 0.0) AS obs_rate
    FROM p GROUP BY 1
    """,
)
def calibration_bins(spark, sf_dir):
    """Reliability diagram: a logistic score over the value z-score
    (global moments from fixed-point sums — mu is davg-exact, the
    variance expression is written identically on both engines; EXP is
    cross-engine-proven by survival_km/text_quality) predicting whether
    the user's next event lands within the hour (lead window — real
    temporal outcome). Scores bin by decile; each bin reports average
    score vs observed rate — the ECE components. One user-keyed window
    exchange + a broadcast 1-row moment table + one 10-group aggregate:
    the whole evaluation is two map-side-combinable passes at any
    scale."""
    e = table_wide(spark, sf_dir, "events", "user_id").filter(
        F.col("value").isNotNull()
    )
    uts = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    s = e.select("user_id", "event_id", "value", uts.alias("uts"))
    wo = Window.partitionBy("user_id").orderBy("uts", "event_id")
    y = s.select(
        "value",
        F.when(
            F.lead("uts").over(wo) - F.col("uts") < 3_600_000_000, 1
        )
        .otherwise(0)
        .alias("y"),
    )
    m = s.agg(
        davg("value").alias("mu"),
        dsum(F.col("value") * F.col("value")).alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    z = (F.col("value") - F.col("mu")) / F.sqrt(
        F.col("s2") / F.col("n").cast("double") - F.col("mu") * F.col("mu")
    )
    p = y.crossJoin(F.broadcast(m)).select(
        "y", (1.0 / (1.0 + F.exp(-z))).alias("p_hat")
    )
    return (
        p.groupBy(
            F.least(F.floor(F.col("p_hat") * 10).cast("int"), F.lit(9)).alias(
                "bin"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            davg("p_hat").alias("avg_score"),
            z6(
                F.sum("y").cast("double") / F.count(F.lit(1))
            ).alias("obs_rate"),
        )
    )


# --------------------------------------------------------------------------
# Embedding drift — per-label centroid shift between two corpus halves:
# the vector-space member of the drift-monitor family (value-space
# drift_psi/drift_ks, token-space corpus_kl). Catches encoder version
# skew and population shift before a model consumes the vectors.
# --------------------------------------------------------------------------


def _embed_drift_oracle():
    from vcf2db_spark.queries.training import knuth_hash_sql

    h = knuth_hash_sql("vec_id", "//")
    return f"""
    WITH cells AS (
      SELECT vec_id, label, ({h}) % 2 AS half,
             unnest(range(len(embedding))) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ),
    c AS (
      SELECT label, pos,
             {OAVG('CASE WHEN half = 0 THEN val END')} AS ca,
             {OAVG('CASE WHEN half = 1 THEN val END')} AS cb,
             CAST(COUNT(CASE WHEN half = 0 THEN 1 END) AS BIGINT) AS na,
             CAST(COUNT(CASE WHEN half = 1 THEN 1 END) AS BIGINT) AS nb
      FROM cells GROUP BY label, pos
      HAVING COUNT(CASE WHEN half = 0 THEN 1 END) > 0
         AND COUNT(CASE WHEN half = 1 THEN 1 END) > 0
    )
    SELECT label, CAST(MAX(na) AS BIGINT) AS n_a,
           CAST(MAX(nb) AS BIGINT) AS n_b,
           (ROUND(SQRT({OSUM('(ca - cb) * (ca - cb)')}), 6) + 0.0)
             AS l2_shift
    FROM c GROUP BY label
    """


@dq("embed_drift", oracle=_embed_drift_oracle())
def embed_drift(spark, sf_dir):
    """L2 distance between each label's half-A and half-B centroids
    (halves by Knuth hash of vec_id — deterministic, engine-identical).
    Both half-centroids land on the SAME (label, pos) row via
    conditional davg (one cell aggregate, no join/grid), the squared
    differences reduce fixed-point per label, and labels missing a half
    drop identically on both sides. Shapes: one cell-grain exchange to
    labels×dims rows, then a labels-sized reduce — the drift monitor
    costs one pass at any corpus size, the same conditional-aggregate
    shape as drift_psi/corpus_kl."""
    from vcf2db_spark.queries.training import knuth_hash_sql

    e = table_wide(spark, sf_dir, "embeddings", "vec_id")
    half = F.expr(knuth_hash_sql("vec_id", "DIV")) % 2
    cells = e.select(
        "label",
        half.alias("half"),
        F.posexplode("embedding").alias("pos", "val"),
    ).select("label", "half", "pos", F.col("val").cast("double").alias("val"))
    in_a = F.when(F.col("half") == 0, F.col("val"))
    in_b = F.when(F.col("half") == 1, F.col("val"))
    c = (
        cells.groupBy("label", "pos")
        .agg(
            davg(in_a).alias("ca"),
            davg(in_b).alias("cb"),
            F.count(in_a).alias("na"),
            F.count(in_b).alias("nb"),
        )
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
    )
    diff = F.col("ca") - F.col("cb")
    return c.groupBy("label").agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        z6(F.sqrt(dsum(diff * diff))).alias("l2_shift"),
    )
