package graft.queries

import graft.{QueryDef, QueryModule, Tables}
import graft.functions.{VectorFunctions => VF}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column (SURVEY.md §2.10):
  * brute-force cosine top-k as the exact baseline, and an IVF-style
  * variant that probes only the query's coarse cluster — the scale
  * path (at 100 TB the corpus side is partitioned by cluster id, so a
  * probe touches 1/|clusters| of the data; here `label` plays the
  * centroid-assignment role).
  *
  * The query side is tiny and broadcast; the corpus side streams —
  * scoring is a broadcast nested-loop that never shuffles the corpus.
  */
object Similarity extends QueryModule {

  private[queries] val duckCos =
    """list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
      |  / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
      |     * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))""".stripMargin

  /** Brute-force exact top-5 neighbors for 3 query vectors. */
  val cosineTopK = QueryDef(
    "q_cosine_topk",
    (s, d) => {
      graft.functions.expressions.CosineSimilarity.register(s)
      val e = Tables.embeddings(s, d)
      val queries = broadcast(e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_emb")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      queries
        .crossJoin(e.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("cand_emb")))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          VF.cosineFast(col("query_emb"), col("cand_emb")).as("cos"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cos"), 4).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""
      SELECT query_id, neighbor_id, rank, round(cos, 4) AS cosine
      FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $duckCos AS cos,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY $duckCos DESC, b.vec_id) AS rank
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < 3)
      WHERE rank <= 5
      ORDER BY query_id, rank
    """))

  /** IVF-style ANN: probe only the query's own cluster (label =
    * coarse centroid assignment, nprobe=1). Same scoring math as the
    * exact path, but the equi-join on label prunes the candidate set.
    */
  val annIvf = QueryDef(
    "q_ann_ivf",
    (s, d) => {
      graft.functions.expressions.CosineSimilarity.register(s)
      val e = Tables.embeddings(s, d)
      val queries = broadcast(e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("label"),
          col("embedding").as("query_emb")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      queries
        .join(e.select(col("vec_id").as("neighbor_id"), col("label"),
          col("embedding").as("cand_emb")), Seq("label"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          VF.cosineFast(col("query_emb"), col("cand_emb")).as("cos"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cos"), 4).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""
      SELECT query_id, neighbor_id, rank, round(cos, 4) AS cosine
      FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $duckCos AS cos,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY $duckCos DESC, b.vec_id) AS rank
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id <> b.vec_id
        WHERE a.vec_id < 10)
      WHERE rank <= 3
      ORDER BY query_id, rank
    """))

  /** One persisted vector index per (session, dataset): the embedding
    * corpus committed as a snapshot table partitioned by its coarse
    * cell (`label`), value-set sidecars on the cell column — built
    * once in warmAll (ingest-class cost), probed by q_ann_ivf_indexed.
    */
  private val vecIndexCache =
    graft.Artifacts.memo[(org.apache.spark.sql.SparkSession, String), String]()

  private def vecIndexRootOf(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    vecIndexCache.get((s, d)) {
      val root = graft.Artifacts.tempRoot("graft-vecindex")
      graft.sources.VectorIndex.build(s, Tables.embeddings(s, d), root)
      root
    }

  /** q_ann_ivf's exact answer THROUGH the persisted vector index
    * (sources/VectorIndex): the probes' distinct cells are read as
    * partition point-lookups — only those cells' files open, the IVF
    * probe economics — then the same exact cosine rerank. Shares
    * q_ann_ivf's oracle, so the hash compare pins index-probed ≡
    * equi-joined ≡ the DuckDB recompute. The equi-join form still
    * SCANS the corpus to hash it on label every query; at 100 TB this
    * is the difference between per-query corpus IO and per-query
    * |probed cells| IO against a once-paid layout.
    */
  val annIvfIndexed = QueryDef(
    "q_ann_ivf_indexed",
    (s, d) => annThroughIndex(s, d, vecIndexRootOf(s, d)),
    annIvf.oracle)

  /** A second vector index per (session, dataset) for the
    * corpus-surgery query: built over all embeddings, then vectors
    * with `vec_id % 9 = 0 AND vec_id >= 10` are DELETED (DV
    * subtraction + centroid-stats recompute). Probe ids (< 10) stay
    * alive so the probe batch is identical to q_ann_ivf's.
    */
  private val postDeleteVecCache =
    graft.Artifacts.memo[(org.apache.spark.sql.SparkSession, String), String]()

  private def postDeleteVecRootOf(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    postDeleteVecCache.get((s, d)) {
      val root = graft.Artifacts.tempRoot("graft-vecindex-del")
      graft.sources.VectorIndex.build(s, Tables.embeddings(s, d), root)
      graft.sources.VectorIndex.delete(s, root,
        "vec_id % 9 = 0 AND vec_id >= 10")
      root
    }

  /** A third vector index, built PURELY through the streaming path
    * (init → 3 transactional ingestBatch upserts → probe): any
    * disjoint batch split converges to the same index content.
    */
  private val streamVecCache =
    graft.Artifacts.memo[(org.apache.spark.sql.SparkSession, String), String]()

  private def streamVecRootOf(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    streamVecCache.get((s, d)) {
      val root = graft.Artifacts.tempRoot("graft-vecindex-stream")
      val txn = graft.Artifacts.tempRoot("graft-vecindex-stream-txn")
      graft.sources.VectorIndex.init(root)
      val e = Tables.embeddings(s, d)
      (0 until 3).foreach { i =>
        val batch = e.filter(pmod(xxhash64(col("vec_id")), lit(3)) === lit(i))
        graft.sources.VectorIndex.ingestBatch(s, batch, root, txn, i.toLong)
      }
      root
    }

  /** The shared ANN rerank over a vector-index root: probe batch =
    * vec_id < 10 with their labels, candidates = the probed cells'
    * point-lookups, exact cosine top-3 — q_ann_ivf's exact semantics
    * through whatever lifecycle produced the index.
    */
  private def annThroughIndex(s: org.apache.spark.sql.SparkSession,
      d: String, root: String): org.apache.spark.sql.DataFrame = {
    graft.functions.expressions.CosineSimilarity.register(s)
    val e = Tables.embeddings(s, d)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label"),
        col("embedding").as("query_emb"))
    val labels = probes.select("label").distinct().collect().map(_.get(0)).toSeq
    val cands = graft.sources.VectorIndex.candidates(s, root, labels)
      .select(col("vec_id").as("neighbor_id"), col("label"),
        col("embedding").as("cand_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(probes)
      .join(cands, Seq("label"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        VF.cosineFast(col("query_emb"), col("cand_emb")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** ANN probes AFTER vector corpus surgery: embeddings matching
    * `vec_id % 9 = 0 AND vec_id >= 10` were DELETED from the index
    * (DV subtraction — no rewrite); the oracle recomputes top-3 from
    * the SURVIVING raw embeddings, pinning that deleted vectors
    * neither appear as neighbors nor displace live ones — the
    * embedding-side dedup/decontamination contract (flag → delete →
    * retrieval answers as if never ingested), symmetric to
    * q_index_postdelete on text.
    */
  val annIvfPostDelete = QueryDef(
    "q_ann_ivf_postdelete",
    (s, d) => annThroughIndex(s, d, postDeleteVecRootOf(s, d)),
    Some(s"""
      SELECT query_id, neighbor_id, rank, round(cos, 4) AS cosine
      FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $duckCos AS cos,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY $duckCos DESC, b.vec_id) AS rank
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id <> b.vec_id
        WHERE a.vec_id < 10
          AND NOT (b.vec_id % 9 = 0 AND b.vec_id >= 10))
      WHERE rank <= 3
      ORDER BY query_id, rank
    """))

  /** q_ann_ivf's exact answer from a vector index built PURELY via
    * the streaming path — init, three transactional ingestBatch
    * upserts (merged cells + folded centroid stats + batch marker in
    * one SnapshotTransaction each). Shares q_ann_ivf's oracle, so the
    * hash compare pins stream-built ≡ batch-built ≡ the raw
    * recompute, the vector twin of q_index_bm25_stream.
    */
  val annIvfStream = QueryDef(
    "q_ann_ivf_stream",
    (s, d) => annThroughIndex(s, d, streamVecRootOf(s, d)),
    annIvf.oracle)

  /** Per-cluster vector statistics (norm distribution, first-component
    * mean) — the sanity profile a similarity index build would emit.
    */
  val vectorStats = QueryDef(
    "q_vector_stats",
    (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), VF.norm(col("embedding")).as("nrm"),
          element_at(col("embedding"), 1).cast("double").as("first_comp"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("cnt"),
          round(avg(col("nrm")), 4).as("avg_norm"),
          round(min(col("nrm")), 6).as("min_norm"),
          round(max(col("nrm")), 6).as("max_norm"),
          round(avg(col("first_comp")), 6).as("avg_first"))
        .orderBy(col("label")),
    Some("""
      SELECT label, count(*) AS cnt,
             round(avg(nrm), 4) AS avg_norm,
             round(min(nrm), 6) AS min_norm,
             round(max(nrm), 6) AS max_norm,
             round(avg(first_comp), 6) AS avg_first
      FROM (
        SELECT label,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm,
               CAST(embedding[1] AS DOUBLE) AS first_comp
        FROM embeddings)
      GROUP BY label
      ORDER BY label
    """))

  /** LSH-bucketed ANN with Hamming-1 multi-probe, parameterized on
    * plane count: `n` "random" hyperplanes (deterministically, the
    * embeddings of vec_id start..start+n-1 via LshAnn.planesFrom),
    * bucket = packed sign bits of the plane dots; each probe searches
    * its own bucket PLUS the n buckets one bit-flip away
    * (LshAnn.hamming1Probes), then exact cosine rerank. Unlike
    * q_ann_ivf this needs no precomputed cluster labels — the
    * at-scale path when no coarse quantizer exists: one broadcast of n
    * planes, one shuffle on the bucket key, n+1 point lookups per
    * probe. Multi-probe is what makes the full-width key usable:
    * single-bucket probing at 8 planes shatters a small corpus into
    * 256 buckets and recall collapses (AnnLshSpec measures both;
    * graded config is asserted at recall@10 ≥ 0.6), while at 100 TB
    * the same pattern holds with 16-24 planes and the probe fan-out
    * stays n+1.
    */
  private def lshAnnQuery(name: String, start: Long, n: Int): QueryDef =
    QueryDef(
      name,
      (s, d) => {
        graft.functions.expressions.CosineSimilarity.register(s)
        val e = Tables.embeddings(s, d)
        val bucketed = graft.functions.LshAnn.bucketize(
          e, graft.functions.LshAnn.planesFrom(e, start, n), n)
        val probes = graft.functions.LshAnn.hamming1Probes(
            bucketed.filter(col("vec_id") < 10), n)
          .select(col("vec_id").as("probe_id"), col("own_bucket"), col("bucket"),
            col("embedding").as("probe_emb"))
        val w = Window.partitionBy(col("probe_id"))
          .orderBy(col("cos").desc, col("cand_id"))
        probes
          .join(bucketed.select(col("vec_id").as("cand_id"), col("bucket"),
            col("embedding").as("cand_emb")), Seq("bucket"))
          .filter(col("probe_id") =!= col("cand_id"))
          .select(col("probe_id"), col("own_bucket"), col("cand_id"),
            VF.cosineFast(col("probe_emb"), col("cand_emb")).as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("probe_id"), col("own_bucket").as("bucket"),
            col("cand_id").as("nearest_id"),
            round(col("cos"), 4).as("cosine"))
          .orderBy(col("probe_id"))
      },
      Some(s"""
        WITH planes AS (
          SELECT vec_id - $start AS plane_no, embedding AS plane_emb
          FROM embeddings WHERE vec_id >= $start AND vec_id < ${start + n}),
        bucketed AS (
          SELECT e.vec_id, e.embedding,
                 CAST(sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                     CAST(p.plane_emb AS DOUBLE[])) > 0
                          THEN CAST(round(pow(2, p.plane_no)) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
          FROM embeddings e CROSS JOIN planes p
          GROUP BY e.vec_id, e.embedding),
        probes AS (
          SELECT a.vec_id AS probe_id, a.embedding AS probe_emb,
                 a.bucket AS own_bucket,
                 CAST(xor(a.bucket, f.flip) AS BIGINT) AS bucket
          FROM bucketed a CROSS JOIN (
            SELECT CAST(0 AS BIGINT) AS flip
            UNION ALL
            SELECT CAST(round(pow(2, i)) AS BIGINT) AS flip FROM range($n) t(i)) f
          WHERE a.vec_id < 10),
        scored AS (
          SELECT p.probe_id, p.own_bucket, b.vec_id AS cand_id,
                 list_dot_product(CAST(p.probe_emb AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(p.probe_emb AS DOUBLE[]), CAST(p.probe_emb AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) AS cos
          FROM probes p JOIN bucketed b
            ON p.bucket = b.bucket AND p.probe_id <> b.vec_id)
        SELECT probe_id, own_bucket AS bucket, cand_id AS nearest_id, round(cos, 4) AS cosine
        FROM (
          SELECT probe_id, own_bucket, cand_id, cos,
                 row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rn
          FROM scored)
        WHERE rn = 1
        ORDER BY probe_id
      """))

  /** The throughput-leaning graded config: 8 planes. */
  val annLsh = lshAnnQuery("q_ann_lsh", 100, 8)

  /** The recall-leaning lever as its own graded row (VERDICT r5 #8):
    * the SAME pipeline at 4 planes — 16 wide buckets instead of 256
    * narrow ones, so candidate sets grow ~16× and recall on
    * adversarially overlapping clusters recovers from ~0.43 to ~0.76
    * (AnnLshSpec's measured sweep). This is the documented
    * drop-to-4-planes deployment choice, hash-checked against the
    * oracle rather than spec-only: the recall/cost trade is a config
    * value, not a code fork.
    */
  val annLshWide = lshAnnQuery("q_ann_lsh_wide", 100, 4)

  /** One Lloyd's assignment step (KMeansLite.assign) as a graded row:
    * 5 deterministic centroids (the embeddings of vec_id 200..204,
    * promoted to double), every point assigned to its nearest by L2²
    * with a cluster-id tiebreak. This is the oracle-checkable core of
    * the IVF quantizer build: the broadcast cross join against a k-row
    * centroid table never shuffles the corpus, so the step is linear
    * at any corpus size. Numerics: Spark folds (x-y)² elementwise in
    * double; the oracle expands |a|²-2a·b+|b|² — the two agree to
    * last-ulp and the FLOAT cast collapses the difference (memory:
    * stats-agg rule). Ties beyond ulp don't occur on random vectors.
    */
  val kmeansAssign = QueryDef(
    "q_kmeans_assign",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val centroids = e.filter(col("vec_id").between(200, 204))
        .select((col("vec_id") - 199).as("cluster_id"),
          transform(col("embedding"), x => x.cast("double")).as("centroid"))
      graft.functions.KMeansLite.assign(e, centroids)
        .select(col("vec_id"), col("cluster_id"),
          col("dist").cast("float").as("dist"))
        .orderBy(col("vec_id"))
    },
    Some("""
      WITH centroids AS (
        SELECT vec_id - 199 AS cluster_id, CAST(embedding AS DOUBLE[]) AS centroid
        FROM embeddings WHERE vec_id BETWEEN 200 AND 204),
      scored AS (
        SELECT e.vec_id, c.cluster_id,
               list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
                 - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid)
                 + list_dot_product(c.centroid, c.centroid) AS dist
        FROM embeddings e CROSS JOIN centroids c),
      ranked AS (
        SELECT vec_id, cluster_id, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn
        FROM scored)
      SELECT vec_id, cluster_id, CAST(dist AS FLOAT) AS dist
      FROM ranked WHERE rn = 1 ORDER BY vec_id
    """))

  /** The OTHER half of a Lloyd's iteration — the centroid UPDATE step
    * (KMeansLite.updateCentroids) as a graded row set: assign every
    * vector to its nearest of the 5 deterministic centroids (the
    * q_kmeans_assign step), then recompute each centroid as the
    * per-dimension mean of its members. Emitted as (cluster_id, pos,
    * n_members, dim_mean) rows — 5 × 64 of them, bounded by k × dims
    * regardless of corpus size. The per-dimension explode is the one
    * wide op and is linear (rows × dims); the aggregation reduces
    * map-side. The FLOAT cast absorbs the engines' avg merge-order
    * drift (stats-agg rule); counts are exact.
    */
  val kmeansUpdate = QueryDef(
    "q_kmeans_update",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val centroids = e.filter(col("vec_id").between(200, 204))
        .select((col("vec_id") - 199).as("cluster_id"),
          transform(col("embedding"), x => x.cast("double")).as("centroid"))
      graft.functions.KMeansLite.assign(e, centroids)
        .select(col("cluster_id"), posexplode(col("embedding")))
        .groupBy(col("cluster_id"), col("pos"))
        .agg(count(lit(1)).as("n_members"),
          avg(col("col").cast("double")).cast("float").as("dim_mean"))
        .select(col("cluster_id"), col("pos").cast("long").as("pos"),
          col("n_members"), col("dim_mean"))
        .orderBy(col("cluster_id"), col("pos"))
    },
    Some("""
      WITH centroids AS (
        SELECT vec_id - 199 AS cluster_id, CAST(embedding AS DOUBLE[]) AS centroid
        FROM embeddings WHERE vec_id BETWEEN 200 AND 204),
      scored AS (
        SELECT e.vec_id, c.cluster_id,
               list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
                 - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid)
                 + list_dot_product(c.centroid, c.centroid) AS dist
        FROM embeddings e CROSS JOIN centroids c),
      ranked AS (
        SELECT vec_id, cluster_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn
        FROM scored),
      assigned AS (SELECT vec_id, cluster_id FROM ranked WHERE rn = 1),
      ex AS (
        -- two unnests of equal-length lists zip positionally (the
        -- generate_series TABLE function rejects lateral column refs)
        SELECT a.cluster_id,
               unnest(generate_series(1, len(e.embedding))) - 1 AS pos,
               unnest(list_transform(generate_series(1, len(e.embedding)),
                 i -> CAST(e.embedding[i] AS DOUBLE))) AS x
        FROM assigned a JOIN embeddings e USING (vec_id))
      SELECT cluster_id, CAST(pos AS BIGINT) AS pos,
             count(*) AS n_members, CAST(avg(x) AS FLOAT) AS dim_mean
      FROM ex
      GROUP BY cluster_id, pos
      ORDER BY cluster_id, pos
    """))

  /** k-NN label transfer (semi-supervised annotation): classify a
    * bounded probe set by the majority label of its 5 nearest labeled
    * neighbors by cosine, tie-broken toward the smaller label — the
    * "propagate labels from the annotated slice to new data" pass.
    * The probe side is a fixed 50-row broadcast (the q_cosine_topk
    * scan shape: one linear pass over the labeled corpus, top-5
    * reduces map-side via WindowGroupLimit); a corpus-scale probe set
    * composes the identical vote stage with q_knn_join's adaptive
    * sign-bit blocking instead. The rank-5 cut orders on the raw
    * cosine — bit-identical across engines (both fold the same
    * per-element double ops in the same order; q_cosine_topk
    * precedent) — and the vote itself is pure integer arithmetic.
    * Emitting true_label alongside makes the row set double as a
    * held-out accuracy measurement.
    */
  val knnClassify = QueryDef(
    "q_knn_classify",
    (s, d) => {
      graft.functions.expressions.CosineSimilarity.register(s)
      val e = Tables.embeddings(s, d)
      val probes = broadcast(e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("probe_id"), col("label").as("true_label"),
          col("embedding").as("probe_emb")))
      val labeled = e.filter(col("vec_id") >= 50)
        .select(col("vec_id").as("neighbor_id"), col("label"),
          col("embedding").as("cand_emb"))
      val wr = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      val wv = Window.partitionBy(col("probe_id"))
        .orderBy(col("votes").desc, col("label"))
      probes.crossJoin(labeled)
        .select(col("probe_id"), col("true_label"), col("label"), col("neighbor_id"),
          VF.cosineFast(col("probe_emb"), col("cand_emb")).as("cos"))
        .withColumn("rn", row_number().over(wr))
        .filter(col("rn") <= 5)
        .groupBy(col("probe_id"), col("true_label"), col("label"))
        .agg(count(lit(1)).as("votes"))
        .withColumn("vr", row_number().over(wv))
        .filter(col("vr") === 1)
        .select(col("probe_id"), col("label").as("predicted_label"), col("votes"),
          col("true_label"), (col("label") === col("true_label")).as("correct"))
        .orderBy(col("probe_id"))
    },
    Some(s"""
      WITH scored AS (
        SELECT a.vec_id AS probe_id, a.label AS true_label,
               b.label, b.vec_id AS neighbor_id, $duckCos AS cos
        FROM (SELECT * FROM embeddings WHERE vec_id < 50) a
        CROSS JOIN (SELECT * FROM embeddings WHERE vec_id >= 50) b),
      ranked AS (
        SELECT probe_id, true_label, label,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY cos DESC, neighbor_id) AS rn
        FROM scored),
      votes AS (
        SELECT probe_id, true_label, label, count(*) AS votes
        FROM ranked WHERE rn <= 5
        GROUP BY probe_id, true_label, label),
      picked AS (
        SELECT probe_id, true_label, label, votes,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY votes DESC, label) AS vr
        FROM votes)
      SELECT probe_id, label AS predicted_label, votes, true_label,
             (label = true_label) AS correct
      FROM picked WHERE vr = 1
      ORDER BY probe_id
    """))

  /** Label-coherence audit: how tight is each LABEL's embedding
    * cluster — per-label centroid (float-cast per dimension, the
    * q_kmeans_update contract), then the mean and minimum cosine of
    * each member to its own label centroid. Low mean → an incoherent
    * label; a low min flags the single worst member (the mislabeled-
    * sample candidate q_embedding_outliers surfaces by distance).
    * Plan: one explode+agg shuffle builds 5 centroid rows, broadcast
    * back; the member pass is a single linear scan with the fused
    * cosine and a bounded final aggregate. Determinism: centroid
    * dims are float-cast (absorbs both engines' avg merge-order
    * drift), the per-member cosine is then the same left fold of the
    * same doubles on both sides, and the final avg is float-cast
    * again (min needs no cast protection but gets one for symmetry).
    */
  val labelCoherence = QueryDef(
    "q_label_coherence",
    (s, d) => {
      graft.functions.expressions.CosineSimilarity.register(s)
      val e = Tables.embeddings(s, d)
      val cent = graft.functions.KMeansLite.updateCentroids(
        e, groupCol = "label", floatDims = true)
      e.join(broadcast(cent), "label")
        .select(col("label"),
          VF.cosineFast(col("embedding"), col("centroid")).as("cos"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_members"),
          avg(col("cos")).cast("float").as("mean_cos"),
          min(col("cos")).cast("float").as("min_cos"))
        .orderBy(col("label"))
    },
    Some("""
      WITH ex AS (
        SELECT label, vec_id,
               unnest(generate_series(1, len(embedding))) - 1 AS pos,
               unnest(list_transform(generate_series(1, len(embedding)),
                 i -> CAST(embedding[i] AS DOUBLE))) AS x
        FROM embeddings),
      cd AS (
        SELECT label, pos, CAST(avg(x) AS FLOAT) AS c
        FROM ex GROUP BY label, pos),
      cent AS (
        SELECT label, list(c ORDER BY pos) AS centroid FROM cd GROUP BY label),
      scored AS (
        SELECT e.label,
               list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(c.centroid AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(c.centroid AS DOUBLE[]), CAST(c.centroid AS DOUBLE[])))) AS cos
        FROM embeddings e JOIN cent c USING (label))
      SELECT label, count(*) AS n_members, CAST(avg(cos) AS FLOAT) AS mean_cos,
             CAST(min(cos) AS FLOAT) AS min_cos
      FROM scored GROUP BY label ORDER BY label
    """))

  /** Embedding-outlier curation: assign every vector to its nearest
    * centroid (the q_kmeans_assign step), then surface the 3 FARTHEST
    * members of each cluster — the "prune noisy/mislabeled samples"
    * pass a training-data pipeline runs after clustering. The ranking
    * window partitions on cluster_id (bounded: |centroids|, a config
    * constant — never data-proportional), so at 100 TB each cluster's
    * top-3 reduces map-side via WindowGroupLimit and the only wide op
    * is the broadcast-centroid assignment scan. Distances are the
    * same expanded dot-product form both engines compute identically;
    * ties break on vec_id.
    */
  val embeddingOutliers = QueryDef(
    "q_embedding_outliers",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val centroids = e.filter(col("vec_id").between(200, 204))
        .select((col("vec_id") - 199).as("cluster_id"),
          transform(col("embedding"), x => x.cast("double")).as("centroid"))
      val assigned = graft.functions.KMeansLite.assign(e, centroids)
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("dist").desc, col("vec_id"))
      assigned
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("cluster_id"), col("rn").cast("long").as("outlier_rank"),
          col("vec_id"), col("dist").cast("float").as("dist"))
        .orderBy(col("cluster_id"), col("outlier_rank"))
    },
    Some("""
      WITH centroids AS (
        SELECT vec_id - 199 AS cluster_id, CAST(embedding AS DOUBLE[]) AS centroid
        FROM embeddings WHERE vec_id BETWEEN 200 AND 204),
      scored AS (
        SELECT e.vec_id, c.cluster_id,
               list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
                 - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid)
                 + list_dot_product(c.centroid, c.centroid) AS dist
        FROM embeddings e CROSS JOIN centroids c),
      ranked AS (
        SELECT vec_id, cluster_id, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn
        FROM scored),
      assigned AS (SELECT vec_id, cluster_id, dist FROM ranked WHERE rn = 1),
      outl AS (
        SELECT cluster_id, vec_id, dist,
               row_number() OVER (PARTITION BY cluster_id ORDER BY dist DESC, vec_id) AS orn
        FROM assigned)
      SELECT cluster_id, CAST(orn AS BIGINT) AS outlier_rank, vec_id,
             CAST(dist AS FLOAT) AS dist
      FROM outl WHERE orn <= 3
      ORDER BY cluster_id, outlier_rank
    """))

  /** Bucketed kNN self-join: top-3 cosine neighbors for EVERY corpus
    * vector, candidates restricted to the vector's own bucket — the
    * all-corpus variant of q_ann_ivf, used for embedding-space dedup
    * and cluster curation.
    *
    * Bucket key (r9 redesign, closing the last measured-superlinear
    * family): (label, adaptive sign-bit string). The r8 constant
    * 3-bit key still left 15.3× sequential cost for 10× data,
    * because (a) occupancy kept growing under a FIXED split factor
    * and (b) the first three coordinates are not where a given
    * cluster actually straddles zero — a sign dim whose whole
    * cluster is positive splits nothing. Two data-adaptive choices,
    * both computed in one tiny stats pass and both exactly
    * mirrorable in the oracle:
    *
    *   - bits(label) = ⌈log2(|label| / 64)⌉ clamped to [0, 8],
    *     evaluated as an INTEGER threshold chain (c ≤ 64·2^k), not
    *     float log2 — occupancy at a power-of-two boundary cannot
    *     flip the bucket key between engines. Pair volume per label
    *     is then ~|label|·64: LINEAR in the corpus, the standard
    *     LSH-blocking contract (AnnLshSpec measures the recall/cost
    *     trade for this family). Target 64 measured better than 128
    *     at every scale (sf1 3.8→2.2 s) with no sf0.1 regression.
    *   - The bits dims chosen are the label's MOST BALANCED sign
    *     splits: rank dims by |2·pos − n| ascending (pos = count of
    *     non-negative values — pure integers, drift-free), tie-break
    *     by dim index. A 50/50 dim halves the bucket; the r8 fixed
    *     dims were sometimes 90/10.
    *
    * The stats pass is a map-side-combinable agg over n·dim values
    * producing |labels|·dim rows, and the chosen-dims table is
    * |labels| rows — broadcast. The pair join stays one equi-join on
    * (label, bkey); the top-k window partitions by source vector, so
    * the rank never concentrates on one task. Measured (r9, seq
    * min-of-2): sf0.1 0.93 s → sf1 2.22 s (2.4× for 10× data, was
    * 15.3×) → sf26 3.84 s (4.1× for 26× data, was 33×).
    */
  val knnJoin = QueryDef(
    "q_knn_join",
    (s, d) => {
      graft.functions.expressions.CosineSimilarity.register(s)
      val e = Tables.embeddings(s, d)
      // smallest k in [0, 8] with c <= 64 * 2^k, as integer compares
      def bitsOf(c: org.apache.spark.sql.Column) =
        (1 until 8).foldLeft(when(c <= 64, 0)) { (acc, k) =>
          acc.when(c <= (64L << k), k)
        }.otherwise(8)
      val cnt = e.groupBy(col("label"))
        .agg(count(lit(1)).as("n"))
        .withColumn("bits", bitsOf(col("n")))
      val balance = e
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("label"), col("dim"))
        .agg(sum(when(col("v") >= 0f, 1L).otherwise(0L)).as("pos"))
      val wDim = Window.partitionBy(col("label"))
        .orderBy(abs(lit(2) * col("pos") - col("n")), col("dim"))
      // lazy localCheckpoint (same pattern as Dedup's fingerprint
      // self-joins): both sides of the self-join below read ONE
      // materialization of the |labels|-row stats result instead of
      // re-running the count + posexplode balance pass twice
      val chosenDims = graft.Artifacts.pin(balance.join(cnt, "label")
        .withColumn("dr", row_number().over(wDim))
        .filter(col("dr") <= col("bits"))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("dr"), col("dim")))),
          x => x.getField("dim")).as("ds")), eager = false)
      val keyed = e.join(broadcast(chosenDims), Seq("label"), "left")
        .withColumn("bkey", coalesce(
          array_join(transform(col("ds"),
            dm => when(element_at(col("embedding"), dm + 1) >= 0f, "1")
              .otherwise("0")), ""),
          lit("")))
        .select(col("vec_id"), col("label"), col("embedding"), col("bkey"))
      val w = Window.partitionBy(col("src_id"))
        .orderBy(col("cos").desc, col("nbr_id"))
      keyed.select(col("vec_id").as("src_id"), col("embedding").as("src_emb"),
          col("label"), col("bkey"))
        .join(keyed.select(col("vec_id").as("nbr_id"),
          col("embedding").as("nbr_emb"), col("label").as("nbr_label"),
          col("bkey").as("nbr_bkey")),
          col("label") === col("nbr_label") && col("bkey") === col("nbr_bkey")
            && col("src_id") =!= col("nbr_id"))
        .select(col("src_id"), col("nbr_id"),
          VF.cosineFast(col("src_emb"), col("nbr_emb")).as("cos"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("src_id"), col("nbr_id"), col("rank"),
          round(col("cos"), 4).as("cosine"))
        .orderBy(col("src_id"), col("rank"))
    },
    // range(64): the corpus embedding dim is fixed at 64 (TESTDATA.md);
    // the Spark side's posexplode covers actual length generically.
    Some(s"""
      WITH cnt AS (
        SELECT label, count(*) AS n,
               CASE WHEN count(*) <= 64 THEN 0 WHEN count(*) <= 128 THEN 1
                    WHEN count(*) <= 256 THEN 2 WHEN count(*) <= 512 THEN 3
                    WHEN count(*) <= 1024 THEN 4 WHEN count(*) <= 2048 THEN 5
                    WHEN count(*) <= 4096 THEN 6 WHEN count(*) <= 8192 THEN 7
                    ELSE 8 END AS bits
        FROM embeddings GROUP BY label),
      balance AS (
        SELECT label, t.i AS dim,
               sum(CASE WHEN embedding[t.i + 1] >= 0 THEN 1 ELSE 0 END) AS pos
        FROM embeddings, range(64) t(i) GROUP BY 1, 2),
      rk AS (
        SELECT b.label, b.dim, c.bits,
               row_number() OVER (PARTITION BY b.label
                 ORDER BY abs(2 * b.pos - c.n), b.dim) AS dr
        FROM balance b JOIN cnt c USING (label)),
      ds AS (
        SELECT label, list(dim ORDER BY dr) AS dims
        FROM rk WHERE dr <= bits GROUP BY label),
      keyed AS (
        SELECT e.vec_id, e.label, e.embedding,
               coalesce(array_to_string(list_transform(ds.dims,
                 dm -> CASE WHEN e.embedding[dm + 1] >= 0 THEN '1' ELSE '0' END),
                 ''), '') AS bkey
        FROM embeddings e LEFT JOIN ds ON e.label = ds.label)
      SELECT src_id, nbr_id, rank, round(cos, 4) AS cosine
      FROM (
        SELECT a.vec_id AS src_id, b.vec_id AS nbr_id, $duckCos AS cos,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY $duckCos DESC, b.vec_id) AS rank
        FROM keyed a JOIN keyed b
          ON a.label = b.label AND a.bkey = b.bkey AND a.vec_id <> b.vec_id)
      WHERE rank <= 3
      ORDER BY src_id, rank
    """))

  /** Multi-probe IVF ANN — the nprobe recall lever as a GRADED oracle
    * row (IvfAnn covers it spec-side; this is the fully-declarative
    * twin): per-label centroids are per-dimension means computed in
    * one posexplode pass, each query probes its TOP-2 labels by
    * centroid cosine, and only those buckets' candidates are scored.
    * Probe ranking float-casts the centroid cosine (centroid
    * components are order-dependent double means — the q_stats rule —
    * and the fixture's clusters are well-separated, so float
    * precision pins the same top-2 in both engines). At 100 TB the
    * centroid table is |labels| rows (broadcast) and candidate volume
    * is nprobe/|labels| of the corpus — the standard IVF contract.
    */
  val annIvfMultiprobe = QueryDef(
    "q_ann_ivf_multiprobe",
    (s, d) => {
      graft.functions.expressions.CosineSimilarity.register(s)
      val e = Tables.embeddings(s, d)
      // avg(float) already promotes to double, so the helper's explicit
      // double cast is plan-equivalent to the previous inline assembly
      val cent = graft.functions.KMeansLite.updateCentroids(e, groupCol = "label")
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
      val wProbe = Window.partitionBy(col("query_id"))
        .orderBy(col("cent_cos").desc, col("label"))
      val probes = queries.crossJoin(broadcast(cent))
        .select(col("query_id"), col("query_emb"), col("label"),
          VF.cosine(col("query_emb"), col("centroid")).cast("float")
            .as("cent_cos"))
        .withColumn("probe_rank", row_number().over(wProbe))
        .filter(col("probe_rank") <= 2)
        .select(col("query_id"), col("query_emb"), col("label"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      probes
        .join(e.select(col("vec_id").as("neighbor_id"), col("label"),
          col("embedding").as("cand_emb")), Seq("label"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          VF.cosineFast(col("query_emb"), col("cand_emb")).as("cos"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cos"), 4).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    multiprobeOracleAt(nprobe = 2))

  /** The DuckDB multiprobe mirror, parameterized on the probe width —
    * ONE template serves the nprobe=2 and nprobe=3 graded rows (the
    * mirror recomputes routing + rerank independently; only the
    * probe_rank cut varies).
    */
  private def multiprobeOracleAt(nprobe: Int): Option[String] = Some(s"""
      WITH cent AS (
        SELECT label, list(m ORDER BY pos) AS centroid
        FROM (
          SELECT label, i AS pos, avg(embedding[i]) AS m
          FROM embeddings, generate_series(1, 64) t(i)
          GROUP BY label, i)
        GROUP BY label),
      q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        FROM embeddings WHERE vec_id < 10),
      probes AS (
        SELECT query_id, qe, label FROM (
          SELECT q.query_id, q.qe, c.label,
                 row_number() OVER (PARTITION BY q.query_id ORDER BY
                   CAST(list_dot_product(q.qe, c.centroid)
                     / (sqrt(list_dot_product(q.qe, q.qe))
                        * sqrt(list_dot_product(c.centroid, c.centroid)))
                     AS FLOAT) DESC, c.label) AS probe_rank
          FROM q CROSS JOIN cent c)
        WHERE probe_rank <= $nprobe)
      SELECT query_id, neighbor_id, rank, round(cos, 4) AS cosine
      FROM (
        SELECT p.query_id, b.vec_id AS neighbor_id,
               list_dot_product(p.qe, CAST(b.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(p.qe, p.qe))
                    * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                        CAST(b.embedding AS DOUBLE[])))) AS cos,
               row_number() OVER (PARTITION BY p.query_id ORDER BY
                 list_dot_product(p.qe, CAST(b.embedding AS DOUBLE[]))
                   / (sqrt(list_dot_product(p.qe, p.qe))
                      * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                          CAST(b.embedding AS DOUBLE[])))) DESC,
                 b.vec_id) AS rank
        FROM probes p JOIN embeddings b
          ON p.label = b.label AND p.query_id <> b.vec_id)
      WHERE rank <= 5
      ORDER BY query_id, rank
    """)

  /** q_ann_ivf_multiprobe's exact answer THROUGH the persisted vector
    * index: probe routing reads the index's maintained centroid-stats
    * side table (|cells| rows, ZERO corpus passes — the scan form
    * recomputes per-dimension means over the whole corpus every
    * query), each query probes its top-2 cells by centroid cosine
    * (float-cast, the same precision pin as the scan twin), and only
    * those cells' files open for the exact rerank. Shares the scan
    * twin's oracle, so the hash compare pins maintained-stats routing
    * ≡ recomputed-centroid routing ≡ the DuckDB recompute — i.e. the
    * index carries SUFFICIENT STATISTICS for multiprobe ANN, kept
    * current by upsert/delete deltas.
    */
  /** The shared index-served multiprobe body: probes < 10, cstats
    * routing, exact rerank through [[graft.sources.VectorIndex.search]].
    */
  private def multiprobeThroughIndex(s: org.apache.spark.sql.SparkSession,
      d: String, nprobe: Int): org.apache.spark.sql.DataFrame =
    graft.sources.VectorIndex.search(s, vecIndexRootOf(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < 10), nprobe, k = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))

  val annIvfMultiprobeIndexed = QueryDef(
    "q_ann_ivf_multiprobe_indexed",
    (s, d) => multiprobeThroughIndex(s, d, nprobe = 2),
    annIvfMultiprobe.oracle)

  /** The nprobe=3 point of the recall/cost curve as a GRADED row
    * (r17, VERDICT r16 item 5): same cstats routing, one more cell
    * probed per query. Graded by the SAME oracle template as the
    * nprobe=2 twin with only the probe_rank cut changed — and the
    * third cell genuinely matters even on this fixture (measured at
    * sf0.01: query 0's rank-5 neighbor improves 0.1773 → 0.2187 from
    * the extra cell), so this row pins that widening the probe set
    * reaches the candidates the routing says it should. The recall
    * CURVE itself (monotone, floors) is measured in VectorIndexSpec's
    * adversarial overlapping-cell fixture.
    */
  val annIvfNprobe3Indexed = QueryDef(
    "q_ann_ivf_nprobe3_indexed",
    (s, d) => multiprobeThroughIndex(s, d, nprobe = 3),
    multiprobeOracleAt(nprobe = 3))

  def defs: Seq[QueryDef] =
    Seq(cosineTopK, annIvf, annIvfIndexed, annIvfPostDelete, annIvfStream,
      vectorStats, annLsh, annLshWide, kmeansAssign, knnJoin,
      annIvfMultiprobe, annIvfMultiprobeIndexed, annIvfNprobe3Indexed,
      embeddingOutliers, kmeansUpdate, knnClassify, labelCoherence)
}
