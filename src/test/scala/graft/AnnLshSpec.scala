package graft

import graft.functions.{LshAnn, VectorFunctions => VF}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** LSH ANN quality on the real fixture embeddings: the bucketing must
  * actually group similar vectors (candidates score far above random
  * pairs), and the plane count must scale the bucket key space past
  * the toy 8-bit default.
  */
class AnnLshSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def emb = Tables.embeddings(spark, TestSpark.sf0001)
    .select(col("vec_id"), col("embedding"))

  /** Average cosine of each probe to its LSH same-bucket candidates. */
  private def lshCandidateCosine(planes: Int): (Double, Long) = {
    val bucketed = LshAnn.bucketize(emb, LshAnn.planesFrom(emb, 100, planes), planes)
    val probes = bucketed.filter(col("vec_id") < 50)
      .select(col("vec_id").as("probe_id"), col("bucket"),
        col("embedding").as("probe_emb"))
    val cands = probes.join(
      bucketed.select(col("vec_id").as("cand_id"), col("bucket"),
        col("embedding").as("cand_emb")), Seq("bucket"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(VF.cosine(col("probe_emb"), col("cand_emb")).as("cos"))
    val row = cands.agg(avg(col("cos")), count(lit(1))).head()
    (row.getDouble(0), row.getLong(1))
  }

  test("8-plane LSH candidates are far more similar than random pairs") {
    val (lshAvg, n) = lshCandidateCosine(8)
    assert(n > 0, "no LSH candidates found at all")
    // baseline: average cosine over arbitrary pairs (first 50 x first 50)
    val some = emb.filter(col("vec_id") < 50)
    val randAvg = some.select(col("vec_id").as("a_id"), col("embedding").as("a"))
      .crossJoin(some.select(col("vec_id").as("b_id"), col("embedding").as("b")))
      .filter(col("a_id") =!= col("b_id"))
      .agg(avg(VF.cosine(col("a"), col("b")))).head().getDouble(0)
    assert(lshAvg > randAvg + 0.05,
      s"LSH bucketing adds no signal: lsh=$lshAvg vs random=$randAvg")
  }

  test("16 planes widen the bucket key space and still bucket correctly") {
    val bucketed16 = LshAnn.bucketize(emb, LshAnn.planesFrom(emb, 100, 16), 16)
    val stats = bucketed16.agg(
      max(col("bucket")), countDistinct(col("bucket")), count(lit(1))).head()
    val (maxBucket, distinct, total) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    assert(maxBucket > 255L, s"16-plane keys should exceed the 8-bit space, max=$maxBucket")
    assert(maxBucket < (1L << 16), s"key must fit 16 bits, max=$maxBucket")
    assert(total === emb.count(), "bucketize must keep every vector exactly once")
    // more planes → finer partitioning than the 8-bit variant
    val distinct8 = LshAnn.bucketize(emb, LshAnn.planesFrom(emb, 100, 8), 8)
      .select(col("bucket")).distinct().count()
    assert(distinct > distinct8, s"16-plane buckets ($distinct) not finer than 8-plane ($distinct8)")
  }

  test("plane count is validated against the long key width") {
    val e = emb
    intercept[IllegalArgumentException](LshAnn.planesFrom(e, 100, 0))
    intercept[IllegalArgumentException](LshAnn.planesFrom(e, 100, 63))
  }

  /** recall@10 of the LSH top-1 vs brute-force top-10 at a given
    * plane count (probe set: vec_id < 20).
    */
  private def recallAt10(planes: Int, multiProbe: Boolean = false): Double = {
    val bucketed = LshAnn.bucketize(emb, LshAnn.planesFrom(emb, 100, planes), planes)
    val probeSrc = bucketed.filter(col("vec_id") < 20)
    val probes = (if (multiProbe) LshAnn.hamming1Probes(probeSrc, planes) else probeSrc)
      .select(col("vec_id").as("probe_id"), col("bucket"), col("embedding").as("probe_emb"))
    val wL = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("cand_id"))
    val lshNearest = probes.join(
        bucketed.select(col("vec_id").as("cand_id"), col("bucket"),
          col("embedding").as("cand_emb")), Seq("bucket"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        VF.cosine(col("probe_emb"), col("cand_emb")).as("cos"))
      .withColumn("rn", row_number().over(wL)).filter(col("rn") === 1)
      .select(col("probe_id"), col("cand_id"))
    val wB = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("cand_id"))
    val bruteTop10 = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))
      .crossJoin(emb.select(col("vec_id").as("cand_id"), col("embedding").as("cand_emb")))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        VF.cosine(col("probe_emb"), col("cand_emb")).as("cos"))
      .withColumn("rn", row_number().over(wB)).filter(col("rn") <= 10)
      .select(col("probe_id"), col("cand_id"))
    val hits = lshNearest.join(bruteTop10, Seq("probe_id", "cand_id")).count()
    val probesWithCand = lshNearest.count()
    assert(probesWithCand > 0, s"no probe found any same-bucket candidate at $planes planes")
    hits.toDouble / probesWithCand
  }

  test("plane count trades recall for candidate-set size (recall@10 measured)") {
    // On this 500-vector fixture: 4 planes → ~31-row buckets, measured
    // recall 0.75; 8 planes → ~2.4-row buckets, recall ~0. The spec
    // locks the tradeoff direction and a margin-below-measured floor at
    // the recall-friendly setting (NOTES.md, "Dev-probe measurements").
    val r4 = recallAt10(4)
    val r8 = recallAt10(8)
    assert(r4 >= 0.5, s"4-plane recall@10 collapsed: $r4")
    assert(r4 >= r8, s"recall should not increase with plane count: 4→$r4, 8→$r8")
  }

  test("graded q_ann_lsh config (8 planes + Hamming-1 multi-probe) keeps recall@10 >= 0.6") {
    // Single-bucket probing at 8 planes measures ~0 recall on this
    // fixture (256 buckets shatter 500 vectors); Hamming-1 multi-probe
    // searches the 9 nearest buckets and recovers it. This pins the
    // exact configuration q_ann_lsh grades with.
    val r = recallAt10(8, multiProbe = true)
    assert(r >= 0.6, s"graded multi-probe recall@10 too low: $r")
  }

  /** The fixture embeddings' labels are well-separated, which flatters
    * LSH the same way it flatters IVF (IvfAnnSpec). This is the SAME
    * adversarial fixture as IvfAnnSpec's overlapping-cluster test
    * (seed 7, center spread ≈ point noise): true neighbors routinely
    * straddle hyperplane boundaries, the regime where multi-probe
    * earns its keep. Asserts the full plane-count curve — candidate
    * work strictly shrinks with planes while recall@10 never
    * improves — and a recall floor at the graded 8-plane + Hamming-1
    * configuration.
    */
  test("adversarial overlapping-cluster fixture: plane-count curve + graded-config recall floor") {
    val rnd = new scala.util.Random(7) // fixed seed — deterministic fixture
    val dim = 16
    val centers = Array.fill(10)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = (0 until 600).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(v => (v + rnd.nextGaussian() * 1.2).toFloat).toSeq)
    }
    import spark.implicits._
    val pts = rows.toDF("vec_id", "embedding").localCheckpoint()
    val wB = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("cand_id"))
    val brute = pts.filter(col("vec_id") < 30)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))
      .crossJoin(pts.select(col("vec_id").as("cand_id"), col("embedding").as("cand_emb")))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        VF.cosine(col("probe_emb"), col("cand_emb")).as("cos"))
      .withColumn("rn", row_number().over(wB)).filter(col("rn") <= 10)
      .select(col("probe_id"), col("cand_id"))
      .localCheckpoint()
    val denom = brute.count().toDouble

    /** (recall@10 of multi-probe LSH top-10, candidate-pair count). */
    def recallAndWork(planes: Int): (Double, Long) = {
      val bucketed = LshAnn
        .bucketize(pts, LshAnn.planesFrom(pts, 100, planes), planes)
        .localCheckpoint()
      val probes = LshAnn.hamming1Probes(bucketed.filter(col("vec_id") < 30), planes)
        .select(col("vec_id").as("probe_id"), col("bucket"),
          col("embedding").as("probe_emb"))
      val cands = probes.join(
          bucketed.select(col("vec_id").as("cand_id"), col("bucket"),
            col("embedding").as("cand_emb")), Seq("bucket"))
        .filter(col("probe_id") =!= col("cand_id"))
        .select(col("probe_id"), col("cand_id"),
          VF.cosine(col("probe_emb"), col("cand_emb")).as("cos"))
        .dropDuplicates(Seq("probe_id", "cand_id")) // multi-probe can re-find a pair
        .localCheckpoint()
      val work = cands.count()
      val wL = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("cand_id"))
      val top10 = cands.withColumn("rn", row_number().over(wL)).filter(col("rn") <= 10)
        .select(col("probe_id"), col("cand_id"))
      (top10.join(brute, Seq("probe_id", "cand_id")).count() / denom, work)
    }

    val curve = Seq(4, 8, 12).map(p => p -> recallAndWork(p))
    info("recall@10 / candidate pairs by plane count (overlapping clusters): " +
      curve.map { case (p, (r, w)) => f"$p->($r%.3f, $w)" }.mkString(", "))
    curve.sliding(2).foreach { case Seq((pA, (rA, wA)), (pB, (rB, wB))) =>
      assert(wB < wA, s"candidate work must shrink with planes $pA->$pB: $wA -> $wB")
      assert(rB <= rA + 0.02, s"recall should not improve with planes $pA->$pB: $rA -> $rB")
    }
    // graded config (q_ann_lsh: 8 planes + Hamming-1). Measured curve
    // on this fixture (seed 7, deterministic):
    //   planes 4 -> 0.757 (6718 pairs), 8 -> 0.430 (1332), 12 -> 0.203 (301)
    // versus ~0.95+ at 8 planes on the well-separated fixture above —
    // the honest finding this fixture exists to record: when cluster
    // overlap ≈ noise, 8-plane Hamming-1 keeps only ~0.43 recall@10,
    // and a deployment wanting more on such data drops to 4 planes
    // (5× candidates) or probes Hamming-2. The floor sits a notch
    // below measured so a real bucketing regression trips while
    // plane-sampling drift does not.
    val graded = curve.toMap.apply(8)._1
    assert(graded >= 0.38, s"graded-config recall@10 on adversarial fixture: $graded")
  }
}
