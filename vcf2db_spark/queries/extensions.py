"""North-star extension queries (SURVEY.md §2C): dedup, similarity search,
vector ops, text analysis, stream-window shapes in batch mode.

Scale notes: these are the LLM-training-pipeline operators. Each one is
written as the plan that survives 100 TB:
- dedup → hash partial-agg, one shuffle on the dedup key;
- similarity → query vector broadcast, per-position products summed exactly
  (posexplode + partial agg); the LSH/IVF scale path lives in
  ``vcf2db_spark.operators.similarity``;
- tumbling/session windows → built-in window()/session_window(), identical
  semantics streaming and batch.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from vcf2db_spark.io import table, table_wide
from vcf2db_spark.registry import OAVG, OSUM, davg, dq, dsum, r6

# --------------------------------------------------------------------------
# C1 — exact dedup, deterministic representative (min doc_id per key).
# --------------------------------------------------------------------------


@dq(
    "dedup_exact",
    oracle="""
    SELECT lang, n_chars, MIN(doc_id) AS kept_doc_id, COUNT(*) AS group_size
    FROM documents GROUP BY lang, n_chars
    """,
)
def dedup_exact(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang", "n_chars").agg(
        F.min("doc_id").alias("kept_doc_id"), F.count("*").alias("group_size")
    )


# --------------------------------------------------------------------------
# C2 (exact-SQL twin) — duplicate token-set detection: documents whose
# sorted distinct token sets collide. The minhash/LSH approximate path is in
# ``operators.dedup`` (rows-only checked).
# --------------------------------------------------------------------------


@dq(
    "dedup_shingle",
    oracle="""
    WITH sigs AS (
      SELECT doc_id,
             array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS sig
      FROM documents
    )
    SELECT sig, COUNT(*) AS n_docs, MIN(doc_id) AS kept_doc_id
    FROM sigs GROUP BY sig HAVING COUNT(*) > 1
    """,
)
def dedup_shingle(spark, sf_dir):
    d = table_wide(spark, sf_dir, "documents", "doc_id")
    sig = F.array_join(F.array_sort(F.array_distinct(F.split(F.col("text"), " "))), " ")
    return (
        d.select("doc_id", sig.alias("sig"))
        .groupBy("sig")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("kept_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


# --------------------------------------------------------------------------
# C3 — brute-force cosine top-k against one query vector. Exact decimal
# sums of per-position double products keep both engines bit-identical.
# --------------------------------------------------------------------------

_SIM_ORACLE = """
WITH q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM embeddings WHERE vec_id = 0
),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ee
  FROM embeddings
),
dots AS (
  SELECT e.vec_id,
         list_dot_product(ee, qe) AS dot,
         list_dot_product(ee, ee) AS nx,
         list_dot_product(qe, qe) AS ny
  FROM e CROSS JOIN q
)
SELECT vec_id, ROUND(dot / (SQRT(nx) * SQRT(ny)), 6) AS cosine
FROM dots WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id LIMIT 5
"""


@dq("sim_topk", oracle=_SIM_ORACLE)
def sim_topk(spark, sf_dir):
    # Dot products via sequential double HOFs: Spark aggregate() folds the
    # array left-to-right exactly like DuckDB's list_dot_product, so the
    # doubles match BITWISE — no decimal detour, stays in codegen, and the
    # corpus is never shuffled (narrow map + TakeOrderedAndProject).
    from vcf2db_spark.operators.similarity import dot as hof_dot

    e = table_wide(spark, sf_dir, "embeddings", "vec_id")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    corpus = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    emb = F.col("embedding")
    qe = F.col("q_emb")
    cosine = hof_dot(emb, qe) / (F.sqrt(hof_dot(emb, emb)) * F.sqrt(hof_dot(qe, qe)))
    return (
        corpus.select("vec_id", r6(cosine).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(5)
    )


# --------------------------------------------------------------------------
# C4 — per-label centroid (posexplode + per-position exact mean)
# --------------------------------------------------------------------------


@dq(
    "vec_centroid",
    oracle=f"""
    WITH long AS (
      SELECT label,
             unnest(range(len(embedding))) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    )
    SELECT label, pos, COUNT(*) AS n,
           ROUND({OAVG('val')}, 6) AS centroid_val
    FROM long GROUP BY label, pos
    """,
)
def vec_centroid(spark, sf_dir):
    e = table_wide(spark, sf_dir, "embeddings", "vec_id")
    long = e.select("label", F.posexplode("embedding").alias("pos", "val")).select(
        "label", "pos", F.col("val").cast("double").alias("val")
    )
    return long.groupBy("label", "pos").agg(
        F.count("*").alias("n"), r6(davg("val")).alias("centroid_val")
    )


# --------------------------------------------------------------------------
# C5 — tf-idf over documents: tokenize → tf per (doc, term), df per term,
# idf = ln((N+1)/(df+1)) + 1 (smoothed), tf-idf rounded. Deterministic:
# integer counts + single double ln per row. Restricted to terms with
# df >= 10 to keep outputs stable and small.
# --------------------------------------------------------------------------

_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
),
df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term HAVING COUNT(*) >= 10
),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.term, tf.tf, df.df,
       ROUND(tf.tf * (LN((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
FROM tf JOIN df USING (term) CROSS JOIN n
"""


@dq("text_tfidf", oracle=_TFIDF_ORACLE)
def text_tfidf(spark, sf_dir):
    d = table_wide(spark, sf_dir, "documents", "doc_id")
    n_docs = d.count()  # tiny scalar; at scale: computed once per corpus snapshot
    toks = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df")).filter(F.col("df") >= 10)
    idf = F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0
    return tf.join(F.broadcast(df), "term").select(
        "doc_id", "term", "tf", "df", r6(F.col("tf") * idf).alias("tfidf")
    )


# --------------------------------------------------------------------------
# C7 — tumbling window aggregation (batch twin of the streaming plan;
# window() is identical in readStream).
# --------------------------------------------------------------------------


@dq(
    "stream_tumble",
    oracle=f"""
    SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, COUNT(*) AS n_events,
           {OSUM('value')} AS sum_value
    FROM events GROUP BY ALL
    """,
)
def stream_tumble(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# C8 — sliding window (1h window, 30m slide): each event lands in two
# buckets. Oracle = union of the two phase-shifted tumbling bucketings.
# --------------------------------------------------------------------------

_SLIDE_ORACLE = """
WITH b AS (
  SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start, * FROM events
  UNION ALL
  SELECT STRFTIME(DATE_TRUNC('hour', ts - INTERVAL 30 MINUTE) + INTERVAL 30 MINUTE,
                  '%Y-%m-%d %H:%M:%S') AS win_start, * FROM events
)
SELECT win_start, COUNT(*) AS n_events
FROM b GROUP BY win_start
"""


@dq("stream_slide", oracle=_SLIDE_ORACLE)
def stream_slide(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"), "n_events"
        )
    )


# --------------------------------------------------------------------------
# C9 — session window (30-minute gap). Oracle: gaps-and-islands. Spark
# session_window starts a NEW session when ts >= prev_ts + gap, so the
# oracle's break condition is `diff >= 30 min`.
# --------------------------------------------------------------------------

_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       COUNT(*) AS n_events
FROM sessions GROUP BY user_id, sid
"""


@dq("stream_session", oracle=_SESSION_ORACLE)
def stream_session(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# C6 — multimodal: real-container decode → feature extraction. Media blobs
# are built deterministically FROM the documents fixture (text bytes →
# PGM raster / 8-bit palette BMP / 8-bit PCM WAV round-robin by doc_id),
# so the DQ needs no media fixture; the decode side exercises every
# pure-numpy codec end-to-end. Binary columns + Arrow-batched
# mapInPandas have no SQL analog → rows-only by contract.
# --------------------------------------------------------------------------


@dq("media_features")
def media_features(spark, sf_dir):
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from vcf2db_spark.functions import media_codecs as mc
    from vcf2db_spark.functions import multimodal as mm

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                raw = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
                w = 16
                n = max(1, raw.size // w)
                cube = np.resize(raw, (n, w, 1))  # deterministic tile/pad
                if did % 6 == 0:
                    rows.append((did, "image_ppm", mc.encode_ppm(cube)))
                elif did % 6 == 1:
                    rows.append((did, "image_bmp", mc.encode_bmp(cube)))
                elif did % 6 == 2:
                    rows.append((did, "audio_wav", mc.encode_wav(cube.reshape(n * w, 1), bits=8)))
                elif did % 6 == 3:
                    # the r6 entropy-coded rows: baseline JPEG and 8-bit
                    # PNG, encoded AND decoded by functions/jpeg.py /
                    # functions/png.py (deterministic — fixed tables,
                    # fixed quality / lossless DEFLATE)
                    rows.append((did, "image_jpeg", mc.encode("jpeg", cube)))
                elif did % 6 == 4:
                    rows.append((did, "image_png", mc.encode("png", cube)))
                else:
                    # r7: SOF2 progressive scan script (spectral
                    # selection), decoded by the same sniffing path
                    from vcf2db_spark.functions.jpeg import encode_jpeg

                    rows.append(
                        (did, "image_jpeg_prog",
                         encode_jpeg(cube, progressive=True))
                    )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "content"])

    media = d.select("doc_id", "text").mapInPandas(
        encode, "media_id bigint, kind string, content binary"
    )
    feats = mm.extract_features(media)
    return (
        feats.join(media.select("media_id", "kind"), "media_id")
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.round(F.avg("mean_intensity"), 6).alias("avg_intensity"),
            F.sum("n_bytes").alias("total_bytes"),
        )
    )
