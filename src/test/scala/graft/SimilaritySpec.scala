package graft

import org.apache.spark.sql.functions._

import graft.ops.Similarity

class SimilaritySpec extends SparkSpec {

  test("native DotProduct matches the HOF form bit-for-bit, incl. null semantics") {
    import spark.implicits._
    val rows = Seq(
      (Array(1.0f, 2.0f, -3.5f), Array(0.5f, -1.0f, 2.0f)), // plain
      (Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f)),   // zeros
      (Array(1e30f, 1f, -1e30f), Array(1f, 1f, 1f))          // order-sensitive sum
    ).toDF("a", "b")
    val hof = org.apache.spark.sql.functions.expr(Similarity.dotExpr("a", "b"))
    val both = rows.select(
      graft.functions.DotProduct(col("a"), col("b")).as("native"), hof.as("hofv"))
    // bit-identical, not approximately equal: same left-to-right accumulation
    assert(both.filter(col("native") =!= col("hofv") ||
      col("native").isNull =!= col("hofv").isNull).count() == 0)
    // length mismatch and null elements yield NULL (the HOF null absorption)
    val edge = Seq(
      (Array[java.lang.Float](1f, 2f), Array[java.lang.Float](1f)),
      (Array[java.lang.Float](1f, null), Array[java.lang.Float](1f, 2f))
    ).toDF("a", "b")
    assert(edge.select(graft.functions.DotProduct(col("a"), col("b")).as("d"))
      .filter(col("d").isNotNull).count() == 0)
    // interpreted path (no codegen) agrees with the codegen'd path
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(both.filter(col("native") =!= col("hofv")).count() == 0)
    }
  }

  import spark.implicits._

  private def vecsDF(vs: Seq[(Long, Array[Float])]) = vs.toDF("vec_id", "embedding")

  test("cosineTopK matches a hand-computed brute force, self excluded") {
    val vs = vecsDF(Seq(
      1L -> Array(1f, 0f, 0f),
      2L -> Array(0.9f, 0.1f, 0f),
      3L -> Array(0f, 1f, 0f),
      4L -> Array(-1f, 0f, 0f)))
    val out = Similarity.cosineTopK(vs, vs.filter(col("vec_id") === 1), "vec_id", "embedding", 2)
      .orderBy("rn").select("neighbor_id").as[Long].collect().toSeq
    assert(out == Seq(2L, 3L)) // 2 most similar, then orthogonal 3, never self or -1
  }

  test("cosineTopK with k larger than the corpus ranks every candidate") {
    val vs = vecsDF(Seq(
      1L -> Array(1f, 0f, 0f),
      2L -> Array(0.9f, 0.1f, 0f),
      3L -> Array(0f, 1f, 0f)))
    val out = Similarity.cosineTopK(vs, vs.filter(col("vec_id") === 1), "vec_id", "embedding", 10)
      .orderBy("rn").select("neighbor_id", "rn").as[(Long, Long)].collect().toSeq
    assert(out == Seq((2L, 1L), (3L, 2L))) // 2 candidates, ranks 1..2, no padding
  }

  test("cosineNearDupPairs finds only pairs above threshold") {
    val vs = vecsDF(Seq(
      1L -> Array(1f, 0f),
      2L -> Array(0.99f, 0.01f),
      3L -> Array(0f, 1f)))
    val out = Similarity.cosineNearDupPairs(vs, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L)))
  }

  test("hyperplanes are deterministic and roughly zero-centered") {
    val a = Similarity.hyperplanes(32, 64)
    val b = Similarity.hyperplanes(32, 64)
    assert(a.flatten.toSeq == b.flatten.toSeq)
    val mean = a.flatten.sum / a.flatten.length
    assert(math.abs(mean) < 0.05)
    // signs balanced enough that buckets spread
    val pos = a.flatten.count(_ > 0)
    assert(pos > a.flatten.length * 0.4 && pos < a.flatten.length * 0.6)
  }

  test("ivfAssign puts near-identical vectors in the same cell; ivfTopK finds them") {
    val pool = Similarity.hyperplanes(60, 16)
    val base = (0 until 20).map(i => (i.toLong, pool(i + 30).map(_.toFloat)))
    val nearCopy = 99L -> base(5)._2.map(v => v * 1.001f)
    val vs = vecsDF(base :+ nearCopy)
    val centroids = vs.filter(col("vec_id") < 4)
    val cells = Similarity.ivfAssign(vs, centroids, "vec_id", "embedding")
      .select(col("vec_id"), col("cell")).as[(Long, Long)].collect().toMap
    assert(cells(5L) == cells(99L))
    val top = Similarity.ivfTopK(vs, vs.filter(col("vec_id") === 99), centroids,
      "vec_id", "embedding", 1)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(top == Seq(5L))
  }

  test("ivfTopK recall rises monotonically with nprobe, reaching brute force at |cells|") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 10)
    val centroids = emb.filter(col("vec_id") < 4) // 4 cells
    val truth = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(nprobe: Int): Double = {
      val got = Similarity.ivfTopK(emb, queries, centroids,
        "vec_id", "embedding", 5, nprobe)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val r = Seq(1, 2, 4).map(recall)
    assert(r == r.sorted, s"recall must be monotone in nprobe: $r")
    assert(r.last == 1.0, s"nprobe = |cells| must equal brute force: $r")
    assert(r.head < 1.0 || r.head == 1.0) // nprobe=1 recall recorded, may be partial
  }

  test("pqEncode assigns each subvector its true nearest codebook centroid") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cb = emb.filter(col("vec_id") < 8)
    val out = Similarity.pqEncode(emb, cb, "vec_id", "embedding", m = 4, subDim = 16)
      .orderBy("vec_id").collect()
    assert(out.length == emb.count())
    // codes land in the codebook range, and a codebook vector encodes to itself
    out.foreach(r => (1 to 4).foreach(i => assert(r.getLong(i) >= 0 && r.getLong(i) < 8)))
    val self = out.filter(_.getLong(0) < 8)
    self.foreach(r => (1 to 4).foreach(i =>
      assert(r.getLong(i) == r.getLong(0), s"codebook vector must self-encode: $r")))
    // brute-force check one vector against the collected codebook
    val cbRows = cb.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val v42 = emb.filter(col("vec_id") === 42).collect()(0).getSeq[Float](1).toArray
    val got42 = out.find(_.getLong(0) == 42L).get
    for (subIdx <- 0 until 4) {
      val xs = v42.slice(subIdx * 16, subIdx * 16 + 16).map(_.toDouble)
      val best = cbRows.map { case (id, cv) =>
        val cs = cv.slice(subIdx * 16, subIdx * 16 + 16).map(_.toDouble)
        (xs.zip(cs).map { case (a, b) => (a - b) * (a - b) }.sum, id)
      }.minBy(identity)._2
      assert(got42.getLong(subIdx + 1) == best, s"sub $subIdx of vec 42")
    }
  }

  test("pqSearchTopK matches an exact in-test ADC reference, self-excluded") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cb = emb.filter(col("vec_id") < 8)
    val queries = emb.filter(col("vec_id") < 4)
    val codes = Similarity.pqEncode(emb, cb, "vec_id", "embedding", m = 4, subDim = 16)
    val got = Similarity.pqSearchTopK(codes, queries, cb, "vec_id", "embedding",
        m = 4, subDim = 16, k = 5)
      .orderBy("query_id", "rn")
      .as[(Long, Long, Long, Long)].collect().toSeq

    // reference: same LUT quantization (round(d·1e5) half-up, clamped at 0),
    // exact long sums, (dist asc, id asc) ranking
    val cbRows = cb.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val qRows = queries.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val codeRows = codes.collect()
      .map(r => (r.getLong(0), (1 to 4).map(r.getLong).toArray))
    def sub(v: Array[Float], i: Int) = v.slice(i * 16, i * 16 + 16).map(_.toDouble)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      // the engine's x·x − 2·x·c + c·c, each dot an ordered fold
      def dp(x: Array[Double], y: Array[Double]) =
        x.zip(y).foldLeft(0.0) { case (acc, (p, q)) => acc + p * q }
      dp(a, a) - 2.0 * dp(a, b) + dp(b, b)
    }
    val want = qRows.flatMap { case (qid, qv) =>
      val lut = (0 until 4).map(s => cbRows.map { case (cid, cv) =>
        cid -> BigDecimal(math.max(0.0, d2(sub(qv, s), sub(cv, s))) * 100000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.toMap)
      codeRows.filter(_._1 != qid)
        .map { case (nid, cs) => (nid, (0 until 4).map(s => lut(s)(cs(s))).sum) }
        .sortBy { case (nid, d) => (d, nid) }.take(5).zipWithIndex
        .map { case ((nid, d), i) => (qid, nid, d, i + 1L) }
    }.toSeq
    assert(got == want, s"got:\n${got.mkString("\n")}\nwant:\n${want.mkString("\n")}")
    // and an identical-to-codebook query ranks its own encoding's cell-mates
    // by exact 0-extendable distances — spot: top-1 distance is the minimum
    assert(got.filter(_._4 == 1L).forall { case (_, _, d, _) => d >= 0 })
  }

  test("lshBucketNearDup recalls planted near-identical vectors") {
    // 40 distinct pseudo-random base vectors + one near-copy of vector 0
    val pool = Similarity.hyperplanes(140, 64)
    def mk(i: Int): Array[Float] = pool(100 + i).map(_.toFloat)
    val base = (0 until 40).map(i => (i.toLong, mk(i)))
    val nearCopy = 99L -> base(0)._2.zipWithIndex
      .map { case (v, d) => if (d == 0) v + 0.01f else v }
    val vs = vecsDF(base :+ nearCopy)
    val pairs = Similarity.lshBucketNearDup(vs, "vec_id", "embedding", threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 99L)))
    // and nothing else is that similar
    assert(pairs.size == 1)
  }

  test("quantizeInt8 bounds codes at ±127 and reconstructs within half a step") {
    val vs = vecsDF(Seq(
      1L -> Array(0.5f, -1.0f, 0.25f, 0.0f),
      2L -> Array(0.0f, 0.0f, 0.0f, 0.0f))) // all-zero: scale 0, codes 0
    val out = Similarity.quantizeInt8(vs, "vec_id", "embedding")
      .orderBy("vec_id")
      .as[(Long, Long, Seq[Int])].collect().toSeq
    val (_, scale1, codes1) = out.head
    assert(codes1 == Seq(64, -127, 32, 0)) // 0.5*127, -1*127, 0.25*127 rounded
    assert(scale1 == 127000000L)           // scale 127/1.0 -> 127.0 * 1e6
    assert(codes1.forall(c => c >= -127 && c <= 127))
    // dequantized values land within half a quantization step of the input
    val step = 1.0 / 127.0
    val recon = codes1.map(_ * step)
    Seq(0.5, -1.0, 0.25, 0.0).zip(recon).foreach { case (v, r) =>
      assert(math.abs(v - r) <= step / 2 + 1e-9, s"$v vs $r")
    }
    assert(out(1) == ((2L, 0L, Seq(0, 0, 0, 0))))
  }

  test("labelCentroids is exact and partition-order independent") {
    import spark.implicits._
    val rows = (1 to 97).map { i =>
      (i.toLong, (i % 3), Array(i * 0.001f, -i * 0.002f, 1.0f))
    }
    val df = rows.toDF("id", "label", "vec")
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.labelCentroids(d, "label", "vec")
        .orderBy("label", "pos")
        .as[(Int, Long, Long, Long)].collect().toSeq
    val a = run(df.repartition(1))
    val b = run(df.repartition(7, col("id")))
    assert(a == b, "scaled-long sums must commute across partitionings")
    // exactness vs direct computation on the driver
    val expect = rows.groupBy(_._2).flatMap { case (lbl, rs) =>
      (0 until 3).map { p =>
        val sum = rs.map(r => math.round(r._3(p).toDouble * 1e6)).sum
        (lbl, p.toLong, sum, rs.size.toLong)
      }
    }.toSeq.sorted
    assert(a.sorted == expect)
  }

  test("silhouetteSampled matches an in-memory brute-force reference") {
    import spark.implicits._
    // 3 planted clusters in 2D; ids chosen so sampleMod=4 keeps one or more
    // points of every label (0,4,8 → label 0; 12 → label 1; 16 → label 2)
    val pts = Seq(
      (0L, Array(0f, 0f), 0), (4L, Array(0f, 1f), 0), (8L, Array(1f, 0f), 0),
      (1L, Array(10f, 0f), 1), (2L, Array(10f, 1f), 1), (12L, Array(11f, 0f), 1),
      (3L, Array(5f, 5f), 2), (16L, Array(5f, 6f), 2))
    val out = Similarity.silhouetteSampled(
      pts.toDF("vec_id", "embedding", "label"),
      "vec_id", "embedding", "label", sampleMod = 4)
      .orderBy("vec_id")
      .as[(Long, Int, Double, Double, Double)].collect().toSeq

    def dtb(a: Array[Float], b: Array[Float]): Long = {
      def dot(x: Array[Float], y: Array[Float]): Double =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i).toDouble * y(i).toDouble)
      math.round(math.sqrt(math.max(dot(a, a) + dot(b, b) - 2 * dot(a, b), 0.0)) * 100000)
    }
    def r4(d: Double): Double =
      BigDecimal.valueOf(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = pts.filter(_._1 % 4 == 0).sortBy(_._1).map { case (id, v, l) =>
      val byLabel = pts.filter(_._1 != id).groupBy(_._3)
        .map { case (lab, ps) => lab -> ps.map(p => dtb(v, p._2)).sum.toDouble / ps.size }
      val a = byLabel(l)
      val b = (byLabel - l).values.min
      (id, l, r4(a / 100000), r4(b / 100000), r4((b - a) / math.max(a, b)))
    }
    assert(out.size == 5 && out == expect, s"got $out want $expect")
  }

  test("silhouetteSampled: tight own cluster and far others approach +1") {
    import spark.implicits._
    val pts = Seq(
      (0L, Array(0f, 0f), 0), (1L, Array(0f, 0.1f), 0),
      (2L, Array(100f, 0f), 1), (3L, Array(100f, 0.1f), 1))
    val s = Similarity.silhouetteSampled(
      pts.toDF("vec_id", "embedding", "label"),
      "vec_id", "embedding", "label", sampleMod = 2)
      .select("silhouette").as[Double].collect()
    assert(s.length == 2 && s.forall(_ > 0.99), s.toSeq.toString)
  }

  test("nearestCentroid: hand-checked confusion cells and smallest-label ties") {
    import spark.implicits._
    // label 0 centroid = (0, 0.05); label 1 centroid = (1, 0); the stray
    // vector 4 (true label 1) sits at the label-0 centroid → off-diagonal
    // cell (1, 0); vector 5 is EXACTLY equidistant from both centroids
    // ((0.5, 0.025) after floor-div micro centroids has asymmetric micro
    // distances — instead plant the tie by symmetry on one axis)
    val pts = Seq(
      (0L, Array(0f, 0f), 0), (1L, Array(0f, 0.1f), 0),
      (2L, Array(1f, 0f), 1), (3L, Array(1f, 0f), 1),
      (4L, Array(0f, 0.05f), 1))
    val out = Similarity.nearestCentroid(pts.toDF("vec_id", "embedding", "label"),
        "vec_id", "embedding", "label")
      .orderBy("label", "pred_label").as[(Long, Long, Long)].collect().toSeq
    // centroids: l0 = (0, 50000µ), l1 = (666666µ, 16666µ) → vectors 0, 1, 4
    // are all nearest l0; vectors 2, 3 nearest l1
    assert(out == Seq((0L, 0L, 2L), (1L, 0L, 1L), (1L, 1L, 2L)))
  }

  test("nearestCentroid: exact tie breaks to the smallest label") {
    import spark.implicits._
    // the probe pulls its own class centroid, so the tie is engineered
    // with that pull included: l1 = {(2,0), probe (0,0)} → centroid (1,0);
    // l0 = {(-1,0)} → centroid (-1,0); the probe sits exactly 10¹² µ² from
    // BOTH → struct-min picks label 0 → cell (1, 0)
    val pts = Seq(
      (0L, Array(-1f, 0f), 0), (1L, Array(2f, 0f), 1), (9L, Array(0f, 0f), 1))
    def run(parts: Int) =
      Similarity.nearestCentroid(
        pts.toDF("vec_id", "embedding", "label").repartition(parts),
        "vec_id", "embedding", "label")
        .orderBy("label", "pred_label").as[(Long, Long, Long)].collect().toSeq
    val a = run(1)
    assert(a == Seq((0L, 0L, 1L), (1L, 0L, 1L), (1L, 1L, 1L)), a.toString)
    assert(a == run(7))
  }

  test("ivfPqTopK with one cell equals the flat ADC search; pruning prunes") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 3)
    val cb = vecs.filter($"vec_id" < 4)
    // ONE centroid → every vector shares the cell → the composed index
    // must return exactly the flat ADC ranking
    val one = Similarity.ivfPqTopK(vecs, queries,
      centroids = vecs.filter($"vec_id" === 0), codebook = cb,
      "vec_id", "embedding", m = 2, subDim = 4, k = 5, nprobe = 1)
      .orderBy("query_id", "rn").collect().toSeq
    val flat = Similarity.pqSearchTopK(
      Similarity.pqEncode(vecs, cb, "vec_id", "embedding", m = 2, subDim = 4),
      queries, cb, "vec_id", "embedding", m = 2, subDim = 4, k = 5)
      .orderBy("query_id", "rn").collect().toSeq
    assert(one == flat && one.nonEmpty)
    // with many cells and nprobe = 1, each query's candidate pool shrinks
    // to its own cell — results are a (possibly shorter) subset ranking
    val pruned = Similarity.ivfPqTopK(vecs, queries,
      centroids = vecs.filter($"vec_id" < 16), codebook = cb,
      "vec_id", "embedding", m = 2, subDim = 4, k = 5, nprobe = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val flatSet = flat.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned.nonEmpty && pruned.size <= flatSet.size)
  }

  test("centroidOutliers flags only the corrupted vector, partition-invariant") {
    import spark.implicits._
    // 8 clean unit vectors + one ×8-scaled corruption in class 0; the
    // corruption drags the centroid, but its own distance (≈ 50× the
    // clean ones) still clears 4× the class mean while every clean
    // vector stays far under it. Class 1 is clean → no flags there
    val clean = Seq((1f, 0f), (-1f, 0f), (0f, 1f), (0f, -1f))
    val pts =
      (clean ++ clean).zipWithIndex.map { case ((x, y), i) =>
        (i.toLong, Array(x, y), 0) } ++
      Seq((100L, Array(8f, 0f), 0)) ++
      clean.zipWithIndex.map { case ((x, y), i) => (200L + i, Array(x * 2, y * 2), 1) }
    def run(parts: Int) = Similarity.centroidOutliers(
      pts.toDF("vec_id", "embedding", "label").repartition(parts),
      "vec_id", "embedding", "label")
      .orderBy("vec_id").as[(Long, Long, Long)].collect().toSeq
    val a = run(1)
    assert(a.map(_._1) == Seq(100L), a.toString)
    assert(a == run(9))
    // a sky-high factor flags nothing
    assert(Similarity.centroidOutliers(pts.toDF("vec_id", "embedding", "label"),
      "vec_id", "embedding", "label", factor = 1000).count() == 0L)
  }

  test("ivfTrainMicro: exact-long Lloyd reduces total within-cell d2, partition-invariant") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def totalD2(cent: org.apache.spark.sql.DataFrame): Long = {
      // within-cell d2 under the micro discipline: assign, then sum exact longs
      val a = Similarity.microAssign(emb, "vec_id", "embedding", cent)
      val comp = emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "v")))
        .select(col("vec_id"), col("d").cast("long").as("dim"),
          round(col("v").cast("double") * 1000000.0, 0).cast("long").as("vm"))
      comp.join(a, Seq("vec_id"))
        .join(cent, Seq("cell", "dim"))
        .agg(sum((col("vm") - col("cm")) * (col("vm") - col("cm"))))
        .head.getLong(0)
    }
    val seed = Similarity.microSeedCentroids(emb, "vec_id", "embedding", k = 4)
    val trained = Similarity.ivfTrainMicro(emb, "vec_id", "embedding", k = 4, iterations = 2)
    assert(totalD2(trained) < totalD2(seed),
      "2 Lloyd rounds did not reduce within-cell distortion")
    // partition invariance: the exact-integer argmin/update can't flip ulps
    val t9 = Similarity.ivfTrainMicro(emb.repartition(9), "vec_id", "embedding",
      k = 4, iterations = 2)
    assert(trained.orderBy("cell", "dim").as[(Long, Long, Long)].collect().toSeq ==
      t9.orderBy("cell", "dim").as[(Long, Long, Long)].collect().toSeq)
  }

  test("hardNegatives returns only different-label neighbors, nearest first") {
    import spark.implicits._
    // anchor (1,0) label 0: same-label (0.9,0.1) must be skipped; the
    // different-label neighbors rank (0.8,0.2) [closest] then (0,1)
    val emb = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.8f, 0.2f), 1), (3L, Array(0f, 1f), 2))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(emb, emb.filter(col("vec_id") === 0),
        "vec_id", "embedding", "label", k = 3)
      .orderBy("rn").as[(Long, Long, Double, Long)].collect().toSeq
    assert(out.map(_._2) == Seq(2L, 3L), out.toString)
    assert(out.head._3 > out(1)._3)
  }

  test("cosineTopK refuses a corpus-sized query frame loudly") {
    import spark.implicits._
    // the broadcast-queries plan is only correct for batch-sized query
    // frames; passing the whole corpus must fail at the guard, not OOM
    // the broadcast downstream
    val vs = (0L until 50L).map(i => (i, Array(i.toFloat, 1f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.cosineTopK(vs, vs, "vec_id", "embedding", 2, maxQueries = 10)
    }
    assert(e.getMessage.contains("query side exceeds 10 rows"))
    // at or below the cap the guard is silent
    assert(Similarity.cosineTopK(vs, vs.filter(col("vec_id") < 10),
      "vec_id", "embedding", 2, maxQueries = 10).count() > 0)
  }

  test("microCentroidVectors reassembles dims in order as exact cm/1e6 doubles") {
    import spark.implicits._
    val cent = Seq((0L, 1L, 500000L), (0L, 0L, -1000000L), (1L, 0L, 250000L),
      (1L, 1L, 0L)).toDF("cell", "dim", "cm")
    val out = Similarity.microCentroidVectors(cent, "vec_id", "embedding")
      .orderBy("vec_id").as[(Long, Array[Double])].collect().toSeq
    assert(out.map { case (id, v) => (id, v.toSeq) } ==
      Seq((0L, Seq(-1.0, 0.5)), (1L, Seq(0.25, 0.0))))
  }
}
