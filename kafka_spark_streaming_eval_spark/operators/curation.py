"""Corpus-curation operators (round-5 additions, registered AFTER every
earlier query so the 27-query never-green driver backlog drains first —
see ``plans/registry.py:all_queries`` and the registration-order note in
``registry._load_all``).

Five operators a 100 TB pre-training curation pipeline runs between raw
ingest and the training mix, completing the LLM-data block:

- ``stream_incremental_contamination`` — the STREAMING form of round-4's
  ``text_contamination_matrix``: documents arrive in micro-batches and are
  checked against a static benchmark-shingle set as they land, so
  contamination is caught at ingest time instead of by a corpus-wide
  batch job (the unification of the corpus-diagnostics and streaming
  blocks suggested by VERDICT r4 item 8).
- ``pipeline_dsir_importance`` — DSIR-style data selection (Xie et al.
  2023, "Data Selection for Language Models via Importance Resampling"):
  hashed-bigram importance weights p_target/p_raw per document, entirely
  in rational/IEEE-exact arithmetic (no logs — the engine's standing
  libm-free determinism contract).
- ``sim_semantic_dedup`` — SemDeDup-style semantic deduplication (Abbas
  et al. 2023): within each embedding cluster, near-duplicate pairs above
  a cosine threshold drop the member closer to the centroid (keep the
  most peripheral = most informative exemplar), reported as per-cluster
  keep/drop accounting.
- ``dedup_cdc_chunks`` — FastCDC-style content-defined chunking at token
  granularity: offset-invariant chunk boundaries expose content shared
  between partially-overlapping documents (boilerplate, quoted replies),
  the sub-document dedup signal whole-doc hashing misses.
- ``join_bloom_prefilter`` — declarative Bloom-filter semi-join
  reduction: the map-side fact-table prefilter that avoids shuffling a
  fact table against a filtered dimension, with the false-positive rate
  measured in-query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kafka_spark_streaming_eval_spark.catalog import parquet_schema, table
from kafka_spark_streaming_eval_spark.operators.dedup import shingle_rows
from kafka_spark_streaming_eval_spark.plans.registry import register
from kafka_spark_streaming_eval_spark.session import iter_checkpoint, prep

BENCH_SOURCE = "src1"  # the held-out benchmark slice the stream is checked against
DSIR_TARGET_SOURCE = "src0"  # DSIR's target-domain slice (same as the LM slice)
DSIR_BUCKETS = 256  # hashed-feature space: two md5 hex digits
SEMDEDUP_TAU = 0.40  # within-cluster cosine above this = semantic duplicate

# 3-shingle array SQL shared with operators/corpus.py's oracles
_SH_SQL = """
    list_transform(generate_series(1, len(string_split(lower(text),' ')) - 2),
                   i -> string_split(lower(text),' ')[i] || ' ' ||
                        string_split(lower(text),' ')[i+1] || ' ' ||
                        string_split(lower(text),' ')[i+2])
"""

# md5-derived 8-bit feature bucket, identical text in both engines: two hex
# digits via strpos-in-alphabet (the pipeline.py md5-shard pattern widened to
# 256 buckets; no from_hex/conv dialect differences can creep in).
_HEX = "0123456789abcdef"


def _bucket_sql(expr: str) -> str:
    return (
        f"(instr('{_HEX}', substr(md5({expr}), 1, 1)) - 1) * 16 + "
        f"instr('{_HEX}', substr(md5({expr}), 2, 1)) - 1"
    )


@register(
    "stream_incremental_contamination",
    "streaming",
    oracle=f"""
    WITH bench AS (
      SELECT DISTINCT unnest({_SH_SQL}) AS sh
      FROM documents WHERE source = '{BENCH_SOURCE}'
    ),
    stream_sh AS (
      SELECT source, doc_id, unnest(list_distinct({_SH_SQL})) AS sh
      FROM documents WHERE source <> '{BENCH_SOURCE}'
    )
    SELECT s.source,
           count(DISTINCT s.doc_id) AS n_docs_contaminated,
           count(*) AS n_shingle_hits
    FROM stream_sh s JOIN bench b ON s.sh = b.sh
    GROUP BY s.source
    """,
)
def stream_incremental_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time benchmark decontamination, executed BY THE STREAMING
    ENGINE: documents arrive in 4 micro-batches (file source,
    ``maxFilesPerTrigger=1``) and each batch's per-doc DISTINCT 3-shingles
    join a static benchmark shingle set (source `src1`) as they
    land — the streaming form of ``text_contamination_matrix``, catching
    benchmark bleed before a document ever reaches the training mix.

    A document is one source row, so its shingle set is complete within
    its own micro-batch: ``array_distinct`` BEFORE the explode keeps the
    per-doc dedup stateless, the stream-static join is broadcast
    (benchmark shingle sets are small by construction), and the only
    stateful operator is the final (source, doc_id) counting aggregate.
    The per-source rollup (distinct contaminated docs — a DISTINCT
    aggregate streaming state can't do in one pass) runs as a batch agg
    over the drained result table.  The oracle is the identical batch SQL
    — batch/stream equivalence for the ingest-decontamination path.

    Scale: static side ~|benchmark shingles| rows broadcast once per
    micro-batch; stream side is map-only until the keyed counting agg —
    state is O(contaminated docs), not O(corpus)."""
    import os

    import pyarrow.parquet as pa_pq

    from kafka_spark_streaming_eval_spark.session import scratch_dir
    from kafka_spark_streaming_eval_spark.streaming.queries import (
        _ensure_staged,
        _run_to_table,
        _src_fingerprint,
        _stream_session,
        _table_rows,
    )

    prep(spark)
    # Isolated session for the stream (ADVICE r14): state-store partition
    # sizing lives on its own SQLConf instead of a set/run/restore on the
    # shared session.  The static side below is built on it too — the
    # cache is SparkContext-shared, so nothing changes operationally.
    spark = _stream_session(spark, _table_rows(sf_dir, "documents"))
    src = f"{sf_dir}/documents.parquet"

    def build(d: str) -> None:
        t = pa_pq.read_table(src)
        step = (t.num_rows + 3) // 4
        for i in range(4):
            pa_pq.write_table(
                t.slice(i * step, step), os.path.join(d, f"part_{i}.parquet")
            )

    staged = _ensure_staged(
        scratch_dir("stream_contam_src", sf_dir, _src_fingerprint(src)), build
    )

    # The static side (benchmark shingle index) is CACHED for the stream's
    # lifetime: a stream-static join re-evaluates the static plan every
    # micro-batch, and re-tokenizing the benchmark slice 4x tripled this
    # query's wall time.  In production the index is a precomputed table;
    # the cache is the local[N] stand-in, dropped once the stream drains.
    # spread=False (r15): same shape as text_source_vocab_overlap — the
    # scan feeds a distinct whose exchange re-spreads anyway, and only the
    # 1/|sources| benchmark slice survives the filter; interleaved A/B of
    # the index build: 0.25 s no-spread vs 0.34-0.43 s spread at BOTH 8
    # and 32 cores (the spread also made this build core-count-sensitive).
    bench = (
        shingle_rows(
            table(spark, sf_dir, "documents", spread=False).where(
                F.col("source") == BENCH_SOURCE
            )
        )
        .select("sh")
        .distinct()
        .cache()
    )
    try:
        bench.count()  # materialize before the first trigger

        schema = parquet_schema(spark, src)
        # 2 files per trigger (VERDICT r14 item 5): the bounded replay's
        # per-micro-batch cost is planning + state load/commit, which at
        # sf0.1 dominates the map work — its 8->32-core ratio was 0.84
        # (scheduling grows with cores).  Halving the batch count from 4 to
        # 2 keeps the exhibit genuinely incremental (two stateful commits,
        # batch 2 updating batch 1's complete-mode state) and was
        # interleaved-A/B-measured at ~2x on the stream segment (3.26 s ->
        # 1.87 s best-of-4 under equal weather; identical output rows).
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(staged)
            .where(F.col("source") != BENCH_SOURCE)
        )
        # Materialize the token array BEFORE the transform lambda: an inline
        # expression would re-evaluate split(lower(text)) on every element
        # access — O(tokens^2) per document (the shingle_rows contract).
        toks = F.col("_t")
        sh_arr = F.when(
            F.size(toks) >= 3,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 3),
                lambda i: F.concat_ws(" ", toks[i], toks[i + 1], toks[i + 2]),
            ),
        ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
        # NOT spread: a per-batch repartition before the map was A/B-tested
        # in r14 (the streaming analogue of session.spread_small_scan) and
        # LOST — 4.0 s -> 5.7 s at quiet steal; a 1250-doc micro-batch's
        # single-task map is cheaper than 4x (exchange + 32-task stage
        # scheduling) per trigger.
        stream_sh = stream.select(
            "source", "doc_id", F.split(F.lower("text"), " ").alias("_t")
        ).select("source", "doc_id", F.explode(F.array_distinct(sh_arr)).alias("sh"))
        per_doc = (
            stream_sh.join(F.broadcast(bench), "sh")
            .groupBy("source", "doc_id")
            .agg(F.count(F.lit(1)).alias("hits"))
        )
        out = _run_to_table(per_doc, "complete")
    finally:
        bench.unpersist()
    return out.groupBy("source").agg(
        F.count_distinct("doc_id").alias("n_docs_contaminated"),
        F.sum("hits").cast("long").alias("n_shingle_hits"),
    )


@register(
    "pipeline_dsir_importance",
    "pipeline",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, source, {_bucket_sql("bg")} AS bucket
      FROM (
        SELECT doc_id, source,
               unnest(list_transform(
                 generate_series(1, len(toks) - 1),
                 i -> toks[i] || chr(31) || toks[i+1])) AS bg
        FROM (SELECT doc_id, source,
                     list_filter(string_split(lower(text), ' '), t -> t <> '')
                       AS toks
              FROM documents)
      )
    ),
    hist AS (
      SELECT bucket,
             count(*) AS r_b,
             count(*) FILTER (WHERE source = '{DSIR_TARGET_SOURCE}') AS t_b
      FROM feats GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(sum(r_b) AS BIGINT) AS big_r,
             CAST(sum(t_b) AS BIGINT) AS big_t
      FROM hist
    )
    SELECT f.doc_id,
           count(*) AS n_feats,
           CAST(sum(CAST(floor(
             1e6 * (CAST(h.t_b AS DOUBLE) / CAST(h.r_b AS DOUBLE))
                 * (CAST(tot.big_r AS DOUBLE) / CAST(tot.big_t AS DOUBLE))
           ) AS BIGINT)) AS BIGINT) AS lift_q_sum,
           CAST(sum(CAST(floor(
             1e6 * (CAST(h.t_b AS DOUBLE) / CAST(h.r_b AS DOUBLE))
                 * (CAST(tot.big_r AS DOUBLE) / CAST(tot.big_t AS DOUBLE))
           ) AS BIGINT)) AS DOUBLE) / count(*) AS importance
    FROM feats f JOIN hist h USING (bucket) CROSS JOIN tot
    GROUP BY f.doc_id
    """,
)
def pipeline_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights for data selection: every document is
    scored by how much more often its hashed bigram features occur in the
    target-domain slice (source `src0`) than in the raw
    corpus — the importance-resampling statistic that upsamples
    target-like documents when composing a training mix.

    Libm-free determinism: the classical score is sum(log p_t(b)/p_r(b));
    this engine emits the equivalent rational form — per feature,
    lift = (t_b / r_b) * (R / T) where t_b/r_b are the bucket's
    target/raw counts and T/R the totals.  Every division and product is
    a single exactly-rounded IEEE double op on exact integers (bit-equal
    on both engines), quantized ``floor(lift * 1e6)`` per feature and
    summed as BIGINT (order-independent), with the final mean an exact
    BIGINT/COUNT division — no rounding anywhere, so the hash can't
    drift.  Features are two-md5-hex-digit buckets (256) of the bigram —
    the same engine-neutral md5 hashing as pipeline.py's shards.

    Plan: ONE corpus scan.  The per-(doc, bucket) feature table's shuffle
    is computed once and reused (ReusedExchange) by the histogram branch;
    the totals are an all-rows window over the 256-row histogram itself
    (NOT a detached agg branch, which Catalyst re-derives with fresh
    expression IDs and pays a second full corpus scan+explode — the r7
    measured fix); the enriched histogram (r_b, t_b, big_r, big_t) is
    broadcast back (map-only enrichment) and one (doc_id) aggregation
    finishes.  The DSIR trick is exactly that the feature space, not the
    corpus, bounds the model."""
    prep(spark)
    d = table(spark, sf_dir, "documents")
    # Materialize the filtered token array BEFORE the transform lambda —
    # inlining it would re-run filter(split(lower(text))) per element
    # access, O(tokens^2) per document (this cost 4 of this query's first
    # 5.5 bench seconds before the projection).
    toks = F.col("_t")
    bg_arr = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat(toks[i], F.lit("\x1f"), toks[i + 1]),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    # One explosion total: collapse to per-(doc, bucket) multiplicities k
    # FIRST, then everything downstream (256-row histogram, 1-row totals,
    # the enrichment join, the per-doc agg) runs over |docs| x <=256 rows
    # instead of every bigram occurrence.  sum over occurrences of the
    # quantized per-bucket lift == k * lift_q exactly, so the collapse
    # changes cost, not bits.
    docfeat = (
        d.select(
            "doc_id",
            "source",
            F.filter(F.split(F.lower("text"), " "), lambda t: t != "").alias("_t"),
        )
        .select("doc_id", "source", F.explode(bg_arr).alias("bg"))
        .select(
            "doc_id",
            "source",
            (
                (F.expr(f"instr('{_HEX}', substr(md5(bg), 1, 1))") - 1) * 16
                + F.expr(f"instr('{_HEX}', substr(md5(bg), 2, 1))")
                - 1
            ).alias("bucket"),
        )
        .groupBy("doc_id", "source", "bucket")
        .agg(F.count(F.lit(1)).alias("k"))
        # Materialize ONCE: both the histogram branch and the scoring join
        # read this (the unigram-LM shape's shared feature table).  Without
        # it, Catalyst's exchange reuse only covers one of the two extra
        # derivations and the executed plan re-scans + re-explodes the whole
        # corpus (measured r7: 2 FileScans).  |docs| x <=256 rows — far
        # smaller than the corpus; at 100 TB this is the standard
        # persist-the-feature-table step, local to executors.
    )
    docfeat = iter_checkpoint(docfeat)
    hist = docfeat.groupBy("bucket").agg(
        F.sum("k").cast("long").alias("r_b"),
        F.sum(F.when(F.col("source") == DSIR_TARGET_SOURCE, F.col("k")).otherwise(0))
        .cast("long")
        .alias("t_b"),
    )
    # Totals as an unpartitioned window over the 256-row histogram — NOT a
    # separate hist.agg() branch: Catalyst re-derives a detached tot branch
    # with fresh expression IDs, defeating exchange reuse, and the executed
    # plan then scans + explodes the WHOLE corpus a second time to compute a
    # 1-row total (measured r7: 2 FileScans -> 1, ~1/3 of the query's wall
    # at 30x scale).  An all-rows window on <=256 rows is a single tiny
    # task, legitimate despite the global-window rule of thumb.
    wall = W.partitionBy()
    hist = hist.select(
        "bucket",
        "r_b",
        "t_b",
        F.sum("r_b").over(wall).cast("long").alias("big_r"),
        F.sum("t_b").over(wall).cast("long").alias("big_t"),
    )
    lift_q = F.floor(
        F.lit(1e6)
        * (F.col("t_b").cast("double") / F.col("r_b").cast("double"))
        * (F.col("big_r").cast("double") / F.col("big_t").cast("double"))
    ).cast("long")
    return (
        docfeat.join(F.broadcast(hist), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_feats"),
            F.sum(F.col("k") * lift_q).cast("long").alias("lift_q_sum"),
            (
                F.sum(F.col("k") * lift_q).cast("double")
                / F.sum("k").cast("double")
            ).alias("importance"),
        )
    )


@register(
    "sim_semantic_dedup",
    "similarity",
    oracle=f"""
    WITH dims AS (
      SELECT unnest(generate_series(
        1, (SELECT max(len(embedding)) FROM embeddings))) AS i
    ),
    ex AS (
      SELECT e.vec_id, e.label, d.i AS dim,
             CAST(e.embedding[d.i] AS DOUBLE) AS x
      FROM embeddings e, dims d
      WHERE d.i <= len(e.embedding)
    ),
    cent AS (
      SELECT label, dim,
             CAST(sum(CAST(floor(x * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
               / count(*) AS c
      FROM ex GROUP BY label, dim
    ),
    cnorm AS (
      SELECT label,
             sqrt(CAST(sum(CAST(floor(c * c * 1e12) AS BIGINT)) AS DOUBLE)
                  / 1e12) AS cn
      FROM cent GROUP BY label
    ),
    vnorm AS (
      SELECT vec_id,
             sqrt(CAST(sum(CAST(floor(x * x * 1e12) AS BIGINT)) AS DOUBLE)
                  / 1e12) AS vn
      FROM ex GROUP BY vec_id
    ),
    cosc AS (
      SELECT d.vec_id,
             round(d.dp / (v.vn * c.cn), 6) AS cos_c
      FROM (
        SELECT ex.vec_id,
               CAST(sum(CAST(floor(ex.x * cent.c * 1e12) AS BIGINT)) AS DOUBLE)
                 / 1e12 AS dp
        FROM ex JOIN cent ON ex.dim = cent.dim AND ex.label = cent.label
        GROUP BY ex.vec_id
      ) d JOIN vnorm v USING (vec_id)
        JOIN (SELECT e2.vec_id, cn.cn FROM embeddings e2
              JOIN cnorm cn ON e2.label = cn.label) c USING (vec_id)
    ),
    ranked AS (
      SELECT e.vec_id, e.label,
             row_number() OVER (PARTITION BY e.label
                                ORDER BY k.cos_c ASC, e.vec_id) AS keep_rank
      FROM embeddings e JOIN cosc k USING (vec_id)
    ),
    v AS (
      SELECT vec_id, label, embedding,
             sqrt(list_reduce(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                  (a, b) -> a + b)) AS nrm
      FROM embeddings
    ),
    dropped AS (
      SELECT DISTINCT
             CASE WHEN ra.keep_rank > rb.keep_rank THEN a.vec_id
                  ELSE b.vec_id END AS vec_id,
             a.label
      FROM v a
      JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
      JOIN ranked ra ON ra.vec_id = a.vec_id
      JOIN ranked rb ON rb.vec_id = b.vec_id
      WHERE list_reduce(list_transform(generate_series(1, len(a.embedding)),
              i -> CAST(a.embedding[i] AS DOUBLE)
                   * CAST(b.embedding[i] AS DOUBLE)),
            (x, y) -> x + y) / (a.nrm * b.nrm) > {SEMDEDUP_TAU}
    )
    SELECT e.label,
           count(*) AS n_members,
           CAST(count(d.vec_id) AS BIGINT) AS n_dropped,
           CAST(count(*) - count(d.vec_id) AS BIGINT) AS n_kept
    FROM embeddings e LEFT JOIN dropped d ON e.vec_id = d.vec_id
    GROUP BY e.label
    """,
)
def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication accounting: within each
    embedding cluster (the label column — at 100 TB the assignment of a
    coarse k-means quantizer, as in ``sim_ivf_topk``), member pairs with
    cosine > 0.40 (SEMDEDUP_TAU) are semantic duplicates; the pair member
    CLOSER to the cluster centroid is dropped (SemDeDup keeps the most
    peripheral exemplar — it carries the most marginal information).
    Output is the per-cluster keep/drop ledger the curation pipeline acts
    on.

    Determinism: centroids/norms/centroid-cosines use the floor-grid
    quantized sums of ``sim_centroid_confusion`` (order-independent
    BIGINT accumulation); the keep-rank is a 6-dp-rounded cosine with a
    vec_id tie-break; PAIRWISE cosines are sequential left-folds over the
    fixed-order embedding arrays (``F.aggregate`` ≡ DuckDB list_reduce,
    bit-identical — the dedup_embedding_neardup contract), so the > τ
    comparison sees the same bits on both engines.

    Plan: centroid build is a (label, dim) agg broadcast back; the
    pairwise stage is a label-bucketed self-join — never all-pairs
    across clusters.  At 100 TB cluster count scales with corpus size
    (k ∝ n), holding members-per-cluster bounded, which is exactly
    SemDeDup's published cost model; the dropped-set is distinct-keyed
    by vec_id so the ledger join moves ids, not vectors.

    spread=False (VERDICT r14 item 3): same shape as sim_centroid_confusion
    — posexplode straight into the centroid aggregation; the spread's extra
    full-vector exchange cost 0.48 s -> 0.58 s at sf0.1 (8->32-core ratio
    1.08: overhead-bound)."""
    prep(spark)
    e = table(spark, sf_dir, "embeddings", spread=False)
    ex = e.select("vec_id", "label", F.posexplode("embedding").alias("pos", "xf")).select(
        "vec_id",
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.col("xf").cast("double").alias("x"),
    )
    cent = ex.groupBy("label", "dim").agg(
        (
            F.sum(F.floor(F.col("x") * 1e9)).cast("double")
            / F.lit(1e9)
            / F.count(F.lit(1))
        ).alias("c")
    )
    cnorm = cent.groupBy("label").agg(
        F.sqrt(
            F.sum(F.floor(F.col("c") * F.col("c") * 1e12)).cast("double") / F.lit(1e12)
        ).alias("cn")
    )
    vnorm = ex.groupBy("vec_id").agg(
        F.sqrt(
            F.sum(F.floor(F.col("x") * F.col("x") * 1e12)).cast("double") / F.lit(1e12)
        ).alias("vn")
    )
    dots = (
        ex.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id")
        .agg(
            (
                F.sum(F.floor(F.col("x") * F.col("c") * 1e12)).cast("double")
                / F.lit(1e12)
            ).alias("dp")
        )
    )
    cosc = (
        dots.join(vnorm, "vec_id")
        .join(e.select("vec_id", "label"), "vec_id")
        .join(F.broadcast(cnorm), "label")
        .select("vec_id", "label", F.round(F.col("dp") / (F.col("vn") * F.col("cn")), 6).alias("cos_c"))
    )
    ranked = cosc.select(
        "vec_id",
        "label",
        F.row_number()
        .over(W.partitionBy("label").orderBy(F.col("cos_c").asc(), "vec_id"))
        .alias("keep_rank"),
    )

    def fold_dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    nrm = F.sqrt(
        F.aggregate(
            F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    # A branch-selective spread of ONLY this norm fold (the one heavy-map
    # consumer in the query) was A/B-tested r15 and declined: it improves
    # full materialization (noop 2.93 s -> 2.30 s interleaved at sf0.1) but
    # regresses the bench's count action by ~0.3-0.4 s (the pairwise branch
    # is not fully pruned from count, so the extra exchange is paid), and
    # on any multi-split production scan the spread is a no-op anyway.
    v = e.select("vec_id", "label", "embedding", nrm.alias("nrm"))
    a = v.select(
        F.col("vec_id").alias("a_id"),
        "label",
        F.col("embedding").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    b = v.select(
        F.col("vec_id").alias("b_id"),
        "label",
        F.col("embedding").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    pairs = a.join(b, "label").where(F.col("a_id") < F.col("b_id"))
    dup_pairs = pairs.where(
        fold_dot(F.col("a_emb"), F.col("b_emb")) / (F.col("a_nrm") * F.col("b_nrm"))
        > SEMDEDUP_TAU
    ).select("label", "a_id", "b_id")
    ra = ranked.select(F.col("vec_id").alias("a_id"), F.col("keep_rank").alias("a_rank"))
    rb = ranked.select(F.col("vec_id").alias("b_id"), F.col("keep_rank").alias("b_rank"))
    dropped = (
        dup_pairs.join(F.broadcast(ra), "a_id")
        .join(F.broadcast(rb), "b_id")
        .select(
            "label",
            F.when(F.col("a_rank") > F.col("b_rank"), F.col("a_id"))
            .otherwise(F.col("b_id"))
            .alias("vec_id"),
        )
        .distinct()
    )
    return (
        e.select("vec_id", "label")
        .join(dropped.select("vec_id", F.lit(1).alias("_d")), "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.count("_d").cast("long").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("_d")).cast("long").alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (sub-document dedup)
# ---------------------------------------------------------------------------

CDC_MOD = 8  # expected chunk length in tokens (boundary prob 1/8)


@register(
    "dedup_cdc_chunks",
    "dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    bounds AS (
      SELECT doc_id, source, t, n,
             list_filter(generate_series(1, n),
               i -> i = n OR
                    ((instr('{_HEX}', substr(md5(t[i]), 1, 1)) - 1) * 16 +
                     instr('{_HEX}', substr(md5(t[i]), 2, 1)) - 1) % {CDC_MOD} = 0
             ) AS bpos
      FROM toks
    ),
    chunks AS (
      SELECT doc_id, source,
             md5(array_to_string(
               list_slice(t, CASE WHEN j = 1 THEN 1 ELSE bpos[j - 1] + 1 END,
                          bpos[j]), ' ')) AS chunk_md5,
             bpos[j] - (CASE WHEN j = 1 THEN 1 ELSE bpos[j - 1] + 1 END) + 1
               AS n_chunk_tokens
      FROM (SELECT doc_id, source, t, bpos,
                   unnest(generate_series(1, len(bpos))) AS j
            FROM bounds)
    ),
    shared AS (
      SELECT chunk_md5 FROM chunks
      GROUP BY chunk_md5 HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT c.source,
           count(*) AS n_chunks,
           CAST(sum(c.n_chunk_tokens) AS BIGINT) AS n_tokens,
           count(s.chunk_md5) AS n_shared_chunks,
           CAST(COALESCE(sum(c.n_chunk_tokens) FILTER (
             WHERE s.chunk_md5 IS NOT NULL), 0) AS BIGINT) AS shared_token_mass
    FROM chunks c LEFT JOIN shared s USING (chunk_md5)
    GROUP BY c.source
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (FastCDC at token granularity): a chunk
    boundary falls after any token whose md5-derived byte is 0 mod
    8 (CDC_MOD; plus a forced boundary at doc end), so identical passages
    produce identical chunks REGARDLESS of their offset in the document —
    the property fixed-stride chunking lacks and the reason CDC is how
    storage systems and sub-document dedup find shared content between
    partially-overlapping documents (boilerplate, quoted replies,
    syndicated paragraphs).  Chunks leave the query as md5 ids; output is
    the per-source sub-document dedup ledger: total vs shared chunk count
    and the token mass a chunk-level dedup pass would reclaim.

    Determinism: boundaries are a pure function of token bytes (md5 hex →
    instr grid — the engine-neutral hash used corpus-wide); chunk ids are
    md5 of the exact token slice; counts are integers.

    Plan: boundary positions and chunk slices are higher-order array ops
    over the materialized token array (map-side, zero shuffles until the
    chunk-id aggregation); the shared-chunk detection is one groupBy on
    the 16-byte chunk id.  At 100 TB the explode produces
    ~corpus_tokens/8 rows carrying md5s, not text — the same
    shuffle-mass argument as the shingle pipeline."""
    prep(spark)
    d = table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "source", F.split("text", " ").alias("t")
    ).withColumn("n", F.size("t"))

    # token hash byte, Column-API form usable inside the filter lambda
    # (F.conv hex->dec == the oracle's instr-grid arithmetic for 2 digits)
    def tok_byte(i):
        return F.conv(
            F.substring(F.md5(F.element_at(F.col("t"), i)), 1, 2), 16, 10
        ).cast("int")

    # boundary positions (1-based): token hash hits the modulus, or doc end
    bounds = base.withColumn(
        "bpos",
        F.filter(
            F.sequence(F.lit(1), F.col("n")),
            lambda i: (i == F.col("n")) | (tok_byte(i) % CDC_MOD == 0),
        ),
    )
    chunks = (
        bounds.select(
            "doc_id",
            "source",
            "t",
            "bpos",
            F.explode(F.sequence(F.lit(1), F.size("bpos"))).alias("j"),
        )
        .select(
            "doc_id",
            "source",
            "t",
            F.when(F.col("j") == 1, F.lit(1))
            .otherwise(F.element_at("bpos", F.col("j") - 1) + 1)
            .alias("start"),
            F.element_at("bpos", F.col("j")).alias("end"),
        )
        .select(
            "doc_id",
            "source",
            F.md5(
                F.array_join(
                    F.slice(F.col("t"), F.col("start"), F.col("end") - F.col("start") + 1),
                    " ",
                )
            ).alias("chunk_md5"),
            (F.col("end") - F.col("start") + 1).alias("n_chunk_tokens"),
        )
    )
    shared = (
        chunks.groupBy("chunk_md5")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("chunk_md5", F.lit(1).alias("_s"))
    )
    return (
        chunks.join(shared, "chunk_md5", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_chunk_tokens").cast("long").alias("n_tokens"),
            F.count("_s").alias("n_shared_chunks"),
            F.coalesce(
                F.sum(F.when(F.col("_s").isNotNull(), F.col("n_chunk_tokens"))),
                F.lit(0),
            )
            .cast("long")
            .alias("shared_token_mass"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter semi-join prefilter
# ---------------------------------------------------------------------------

BLOOM_BITS = 16384  # 512 x 32-bit words; ~0.3 fill at sf0.1's dim cardinality
BLOOM_SEGMENT = "BUILDING"


def _bloom_pos_sql(key_expr: str, offset: int) -> str:
    """4-hex-digit slice of md5(key) starting at ``offset`` (1-based) as an
    integer in [0, BLOOM_BITS) — instr-grid arithmetic, no from_hex."""
    digits = [
        f"(instr('{_HEX}', substr(md5({key_expr}), {offset + i}, 1)) - 1)"
        for i in range(4)
    ]
    acc = digits[0]
    for d in digits[1:]:
        acc = f"(({acc}) * 16 + {d})"
    return f"(({acc}) % {BLOOM_BITS})"


@register(
    "join_bloom_prefilter",
    "joins",
    oracle=f"""
    WITH keys AS (
      SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = '{BLOOM_SEGMENT}'
    ),
    bits AS (
      SELECT {_bloom_pos_sql("CAST(c_custkey AS VARCHAR)", 1)} AS p FROM keys
      UNION ALL
      SELECT {_bloom_pos_sql("CAST(c_custkey AS VARCHAR)", 5)} AS p FROM keys
    ),
    bloom AS (
      SELECT p // 32 AS w, bit_or(CAST(1 AS BIGINT) << (p % 32)) AS word
      FROM bits GROUP BY p // 32
    ),
    probed AS (
      SELECT o.o_orderpriority,
             ((COALESCE(b1.word, 0) >> (o.p1 % 32)) & 1) = 1
             AND ((COALESCE(b2.word, 0) >> (o.p2 % 32)) & 1) = 1 AS bloom_pass,
             k.c_custkey IS NOT NULL AS true_match
      FROM (
        SELECT o_orderkey, o_custkey, o_orderpriority,
               {_bloom_pos_sql("CAST(o_custkey AS VARCHAR)", 1)} AS p1,
               {_bloom_pos_sql("CAST(o_custkey AS VARCHAR)", 5)} AS p2
        FROM orders
      ) o
      LEFT JOIN bloom b1 ON b1.w = o.p1 // 32
      LEFT JOIN bloom b2 ON b2.w = o.p2 // 32
      LEFT JOIN keys k ON k.c_custkey = o.o_custkey
    )
    SELECT o_orderpriority,
           count(*) AS n_orders,
           count(*) FILTER (WHERE bloom_pass) AS n_bloom_pass,
           count(*) FILTER (WHERE true_match) AS n_true_match,
           count(*) FILTER (WHERE bloom_pass AND NOT true_match) AS n_false_pos
    FROM probed
    GROUP BY o_orderpriority
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction — THE 100 TB join-reduction
    pattern: instead of shuffling the fact table against a filtered
    dimension, a 16384-bit Bloom filter (512 BIGINT words, built
    with one tiny aggregation over the dim keys, 2 hash functions from
    disjoint md5 hex slices) is broadcast and applied MAP-SIDE to every
    fact row; only passing rows ever reach the real join.  The query
    reports, per order priority, exactly what the filter buys: total
    rows, bloom-passing rows, true semi-join matches, and false
    positives — the observed fp rate vs the (1-e^(-kn/m))^k design point.
    This is what Spark's AQE runtime-bloom-filter rewrite does
    internally; here it is expressed declaratively so the mechanism is
    testable bit-for-bit.

    Determinism: bit positions are pure md5 hex arithmetic; the filter
    words are BIGINT bit_or folds (associative, order-independent);
    probes are integer shifts.  No floats anywhere.

    Plan: the bloom build is a <=512-row aggregate over the filtered dim;
    both bloom word lookups and the exactness audit join are broadcasts,
    so the fact table is scanned once, map-side only, and the single
    exchange is the final ~5-group rollup."""
    prep(spark)
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    keys = (
        cust.where(F.col("c_mktsegment") == BLOOM_SEGMENT)
        .select("c_custkey")
        .distinct()
    )

    def pos(col, offset):
        return (
            F.conv(F.substring(F.md5(col.cast("string")), offset, 4), 16, 10)
            .cast("long")
            % BLOOM_BITS
        )

    bits = keys.select(pos(F.col("c_custkey"), 1).alias("p")).unionAll(
        keys.select(pos(F.col("c_custkey"), 5).alias("p"))
    )
    bloom = bits.groupBy((F.col("p") / 32).cast("long").alias("w")).agg(
        F.bit_or(F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))")).alias(
            "word"
        )
    )
    probed = (
        orders.select(
            "o_orderpriority",
            "o_custkey",
            pos(F.col("o_custkey"), 1).alias("p1"),
            pos(F.col("o_custkey"), 5).alias("p2"),
        )
        .join(
            F.broadcast(bloom.select(F.col("w").alias("w1"), F.col("word").alias("word1"))),
            F.expr("CAST(p1 / 32 AS BIGINT)") == F.col("w1"),
            "left",
        )
        .join(
            F.broadcast(bloom.select(F.col("w").alias("w2"), F.col("word").alias("word2"))),
            F.expr("CAST(p2 / 32 AS BIGINT)") == F.col("w2"),
            "left",
        )
        .join(
            F.broadcast(keys.select(F.col("c_custkey").alias("_k"), F.lit(1).alias("_m"))),
            F.col("o_custkey") == F.col("_k"),
            "left",
        )
        .select(
            "o_orderpriority",
            (
                (
                    F.expr(
                        "shiftright(COALESCE(word1, CAST(0 AS BIGINT)), CAST(p1 % 32 AS INT))"
                    ).bitwiseAND(F.lit(1))
                    == 1
                )
                & (
                    F.expr(
                        "shiftright(COALESCE(word2, CAST(0 AS BIGINT)), CAST(p2 % 32 AS INT))"
                    ).bitwiseAND(F.lit(1))
                    == 1
                )
            ).alias("bloom_pass"),
            F.col("_m").isNotNull().alias("true_match"),
        )
    )
    return probed.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count_if(F.col("bloom_pass")).alias("n_bloom_pass"),
        F.count_if(F.col("true_match")).alias("n_true_match"),
        F.count_if(F.col("bloom_pass") & ~F.col("true_match")).alias("n_false_pos"),
    )
