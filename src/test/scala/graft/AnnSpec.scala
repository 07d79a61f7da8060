package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.similarity.Ann

class AnnSpec extends SparkSpec {

  lazy val embeds: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  lazy val queries: DataFrame = embeds.filter(col("vec_id") < 8)

  test("brute-force top-k: k rows per query, descending cosine, no self-match") {
    val k = 5
    val out = Ann.bruteTopK(embeds, queries, k).collect()
    assert(out.length == 8 * k)
    out.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq == (1 to k))
      val cs = byRank.map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }, s"not sorted for q=$q")
      assert(rows.forall(_.getLong(2) != q))
    }
  }

  test("multi-table LSH recall@5 vs brute force is high (> 0.8)") {
    val k = 5
    def keyset(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = keyset(Ann.bruteTopK(embeds, queries, k))
    val lsh = keyset(Ann.lshNeighbors(embeds, queries, k))
    val recall = (brute intersect lsh).size.toDouble / brute.size
    info(s"multi-table LSH recall@5 = $recall")
    assert(recall > 0.8, s"recall too low: $recall")
  }

  test("IVF-flat: cells partition the corpus; recall@5 at nprobe=4/nlist=16 is usable") {
    val k = 5
    val cents = Ann.ivfCentroids(embeds, 16)
    assert(cents.length == 16 && cents.forall(_.length == 64))
    def keyset(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = keyset(Ann.bruteTopK(embeds, queries, k))
    val ivf = keyset(Ann.ivfTopK(embeds, queries, k, nlist = 16, nprobe = 4))
    val recall = (brute intersect ivf).size.toDouble / brute.size
    info(s"IVF recall@5 (nprobe=4/16) = $recall")
    assert(recall > 0.4, s"recall too low: $recall")
    // nprobe = nlist degenerates to exact search
    val full = keyset(Ann.ivfTopK(embeds, queries, k, nlist = 16, nprobe = 16))
    assert(full == brute, "probing all cells must equal brute force")
  }

  test("IVF-PQ: compressed-index recall is usable; full-probe+rerank is exact") {
    val k = 5
    def keyset(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = keyset(Ann.bruteTopK(embeds, queries, k))
    // real config: 4/16 cells probed, ADC-approximate pool of 32, exact rerank
    val pq = keyset(Ann.ivfPqTopK(embeds, queries, k,
      nlist = 16, nprobe = 4, m = 8, ksub = 16, rerank = 32))
    val recall = (brute intersect pq).size.toDouble / brute.size
    info(s"IVF-PQ recall@5 (nprobe=4/16, rerank=32) = $recall")
    assert(recall > 0.7, s"recall too low: $recall") // measured 0.85
    // oracle config: probe everything, rerank everything → exact
    val full = keyset(Ann.ivfPqTopK(embeds, queries, k,
      nlist = 16, nprobe = 16, m = 8, ksub = 16,
      rerank = embeds.count().toInt))
    assert(full == brute, "full probe + all-candidate rerank must equal brute force")
  }

  test("Lloyd to convergence (iters=5): deterministic; recall holds or improves") {
    val k = 5
    def keyset(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // determinism: two independent builds produce bit-identical centroids
    val c1 = Ann.ivfCentroids(embeds, 16, iters = 5)
    val c2 = Ann.ivfCentroids(embeds, 16, iters = 5)
    assert(c1.zip(c2).forall { case (a, b) => a.sameElements(b) })
    val brute = keyset(Ann.bruteTopK(embeds, queries, k))
    val ivf5 = keyset(Ann.ivfTopK(embeds, queries, k, nlist = 16, nprobe = 4,
      iters = 5))
    val recallIvf = (brute intersect ivf5).size.toDouble / brute.size
    info(s"IVF recall@5 (nprobe=4/16, iters=5) = $recallIvf")
    assert(recallIvf > 0.4, s"converged-quantizer recall regressed: $recallIvf")
    val pq5 = keyset(Ann.ivfPqTopK(embeds, queries, k,
      nlist = 16, nprobe = 4, m = 8, ksub = 16, rerank = 32, iters = 5))
    val recallPq = (brute intersect pq5).size.toDouble / brute.size
    info(s"IVF-PQ recall@5 (nprobe=4/16, rerank=32, iters=5) = $recallPq")
    assert(recallPq > 0.7, s"converged-codebook recall regressed: $recallPq")
  }

  test("index training dead-letters irregular embeddings instead of crashing") {
    import spark.implicits._
    // a null embedding and a dimension-mismatched one: both would have
    // crashed the distributed Lloyd refinement on the driver (NPE from a
    // null cell/code group; AIOOBE from dims past the centroid length)
    val base = embeds.select("vec_id", "embedding")
    val irregular = base.unionByName(Seq(
      (900001L, null.asInstanceOf[Array[Float]]),
      (900002L, Array.fill(128)(0.5f))
    ).toDF("vec_id", "embedding"))
    val cents = Ann.ivfCentroids(irregular, nlist = 8, iters = 2)
    assert(cents.length == 8 && cents.forall(_.length == 64))
    assert(cents.toSeq.map(_.toSeq) ==
      Ann.ivfCentroids(base, nlist = 8, iters = 2).toSeq.map(_.toSeq),
      "irregular rows must not perturb training")
    val cbs = Ann.pqCodebooks(irregular, m = 8, ksub = 16, iters = 2)
    assert(cbs.map(_.map(_.toSeq).toSeq).toSeq ==
      Ann.pqCodebooks(base, m = 8, ksub = 16, iters = 2)
        .map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("nearest_centroids falls back deterministically on a NaN component") {
    import spark.implicits._
    val cents = Array(Array(1f, 0f), Array(0f, 1f), Array(1f, 1f))
    val got = Seq(Array(Float.NaN, 1f), Array(0f, 2f)).toDF("v")
      .select(graft.functions.nearest_centroids(col("v"), cents, nprobe = 2))
      .collect().map(_.getSeq[Int](0))
    assert(got.toSeq == Seq(Seq(0, 1), Seq(1, 2)))
  }

  test("PQ kernels: codes in range, ADC score tracks exact cosine") {
    import graft.functions.PqKernel
    val cbs = Ann.pqCodebooks(embeds, m = 8, ksub = 16)
    assert(cbs.length == 8 && cbs.forall(_.length == 16) && cbs.forall(_.forall(_.length == 8)))
    val n2 = PqKernel.norm2Table(cbs)
    val rows = embeds.select(
      graft.functions.pq_encode(col("embedding"), cbs).as("codes"),
      graft.functions.pq_dot_table(col("embedding"), cbs).as("tbl"),
      col("embedding")).limit(64).collect()
    // every code within [0, ksub)
    rows.foreach { r =>
      val codes = r.getSeq[Int](0)
      assert(codes.length == 8 && codes.forall(c => c >= 0 && c < 16))
    }
    // self-score: ADC(q, encode(q)) must approximate cos(q, recon(q)) ≈ 1
    // with bounded quantization loss on this corpus
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val selfScores = rows.map { r =>
      val codes = new GenericArrayData(r.getSeq[Int](0).map(Int.box).toArray[Any])
      val tbl = new GenericArrayData(r.getSeq[Float](1).map(Float.box).toArray[Any])
      PqKernel.score(codes, tbl, n2, 16)
    }
    assert(selfScores.forall(s => s > 0.3 && s <= 1.0001),
      s"self-scores out of band: min=${selfScores.min}")
  }

  test("cosine_sim expression agrees with a plain SQL dot product") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f), 1.0),
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f), 0.0),
      (Array(1.0f, 2.0f, 2.0f), Array(1.0f, 2.0f, 2.0f), 1.0)
    ).toDF("a", "b", "expect")
    val bad = df.withColumn("got", graft.functions.cosine_sim(col("a"), col("b")))
      .filter(abs(col("got") - col("expect")) > 1e-12).collect()
    assert(bad.isEmpty, bad.mkString(","))
  }

  test("cosine_sim is null on length mismatch or zero vector") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 2.0f))
    ).toDF("a", "b")
    assert(df.withColumn("c", graft.functions.cosine_sim(col("a"), col("b")))
      .filter(col("c").isNotNull).count() == 0)
  }
}
