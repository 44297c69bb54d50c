package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exactDedup groups identical texts and keeps the min id") {
    val docs = Seq((1L, "same text"), (5L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val out = Dedup.exactDedup(docs, "doc_id", "text").orderBy("keeper_id")
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L), (3L, 1L)))
  }

  test("wordShingles builds distinct k-shingles, dropping short tails") {
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val sh = Dedup.wordShingles(docs, "doc_id", "text", 3)
      .select("shingle").as[String].collect().sorted.toSeq
    assert(sh == Seq("a b c", "b c d"))
  }

  test("minHashNearDup finds planted near-duplicates, not unrelated docs") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 58).map(i => s"tok$i").mkString(" ") + " tokX tokY"
    val unrelated = (1 to 60).map(i => s"other$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val pairs = Dedup.minHashNearDup(docs, "doc_id", "text",
      shingleK = 2, numHashes = 16, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("probeNearDup finds a new batch's near-dups of the index, no index self-pairs") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val baseCopy = base // exact dup of an indexed doc, arriving in the new batch
    val nearDup = (1 to 58).map(i => s"tok$i").mkString(" ") + " tokX tokY"
    val unrelated = (1 to 60).map(i => s"other$i").mkString(" ")
    val existing = Seq((1L, base), (2L, base + " tail"), (3L, unrelated)).toDF("doc_id", "text")
    val fresh = Seq((10L, baseCopy), (11L, nearDup), (12L, "nothing shared here at all")).toDF("doc_id", "text")
    val index = Dedup.bandedSignatures(existing, "doc_id", "text", 2, 16, 8)
    val got = Dedup.probeNearDup(index, fresh, "doc_id", "text", 2, 16, 8, threshold = 0.5)
      .select("existing_id", "new_id").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 10L)) && got.contains((1L, 11L)))
    // only (existing, new) pairs — never index-side or batch-side self-pairs
    assert(got.forall { case (e, n) => e <= 3L && n >= 10L })
    assert(!got.exists { case (e, n) => e == 3L || n == 12L })
  }

  test("simHash fingerprints: near-dup pair closer in hamming than unrelated") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 57).map(i => s"tok$i").mkString(" ") + " x y z"
    val unrelated = (1 to 60).map(i => s"zzz$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val sh = Dedup.simHash(docs, "doc_id", "text").orderBy("doc_id")
      .select("simhash").as[Long].collect()
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0), sh(1)) < ham(sh(0), sh(2)))
  }

  test("ngramJaccard computes the exact set Jaccard") {
    // doc1 bigrams {a b, b c, c d}; doc2 bigrams {a b, b c, c x}; J = 2/4 = 0.5
    val docs = Seq((1L, "a b c d"), (2L, "a b c x")).toDF("doc_id", "text")
    val out = Dedup.ngramJaccard(docs, "doc_id", "text", k = 2, threshold = 0.1)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 2L, 0.5)))
  }

  test("ngramJaccard frequency cap drops stopword shingles, bounding candidates") {
    // every doc shares the bigram "common tail" — uncapped, that one hot
    // shingle pairs all 21 docs (210 candidate pairs); capped, only the
    // planted near-dup (1, 21) sharing informative shingles survives
    val docs = ((1 to 20).map(i => (i.toLong, s"unique$i word$i common tail")) :+
      (21L, "unique1 word1 common tail extra")).toDF("doc_id", "text")
    val capped = Dedup.ngramJaccard(docs, "doc_id", "text", k = 2, threshold = 0.1,
      maxShingleDf = 5).as[(Long, Long, Double)].collect().toSeq
    // informative shingles: doc1 {unique1 word1, word1 common}, doc21 adds
    // {tail extra}; shared = 2, union = 3 → J = 0.6667
    assert(capped == Seq((1L, 21L, 0.6667)))
    val uncapped = Dedup.ngramJaccard(docs, "doc_id", "text", k = 2, threshold = 0.1,
      maxShingleDf = 1000).count()
    assert(uncapped > 100, s"expected hot-shingle blowup without cap, got $uncapped")
  }

  test("ngramContainment: directed sub-document score Jaccard can't see") {
    // doc 1 is a 3-word snippet quoted inside the much longer doc 2:
    // S(1) = {a b, b c} ⊂ S(2) (8 bigrams) → containment(1→2) = 1.0 while
    // J = 2/8 = 0.25 sits below any sane near-dup threshold; the reverse
    // direction 2→1 scores 0.25 and is cut by the threshold
    val docs = Seq((1L, "a b c"), (2L, "a b c d e f g h i"))
      .toDF("doc_id", "text")
    val out = Dedup.ngramContainment(docs, "doc_id", "text", k = 2,
      threshold = 0.5).as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 2L, 2L, 2L, 1.0)))
    // sanity: symmetric Jaccard misses the same pair at the same threshold
    assert(Dedup.ngramJaccard(docs, "doc_id", "text", k = 2, threshold = 0.5)
      .count() == 0L)
  }

  test("ngramContainment honors the df cap on sizes and intersections") {
    // "common tail" rides every doc; capped out, doc 21's containment of
    // doc 1's informative shingles is 2/3 (doc21 = {unique1 word1,
    // word1 common, tail extra} informative, doc1 = {unique1 word1,
    // word1 common}) → 1→21 scores 2/2 = 1.0, 21→3 pairs drop entirely
    val docs = ((1 to 20).map(i => (i.toLong, s"unique$i word$i common tail")) :+
      (21L, "unique1 word1 common tail extra")).toDF("doc_id", "text")
    val out = Dedup.ngramContainment(docs, "doc_id", "text", k = 2,
      threshold = 0.5, maxShingleDf = 5)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(out == Set((1L, 21L, 2L, 2L, 1.0), (21L, 1L, 3L, 2L, 0.6667)))
  }

  test("noveltyByDoc: corpus-order novelty in floor basis points") {
    // doc 1 introduces {a b, b c} (10000 bp); doc 2 reuses "a b", adds
    // "b x" (5000 bp); doc 3 is assembled ENTIRELY from seen bigrams
    // (0 bp — invisible to pairwise gates, caught here); doc 4 has no
    // bigram and leaves the output
    val docs = Seq((1L, "a b c"), (2L, "a b x"), (3L, "a b"), (4L, "solo"))
      .toDF("doc_id", "text")
    val out = Dedup.noveltyByDoc(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L, 2L, 10000L), (2L, 2L, 1L, 5000L),
      (3L, 1L, 0L, 0L)))
  }

  test("dedup is idempotent: re-running exactDedup output changes nothing") {
    val docs = Seq((1L, "t"), (2L, "t"), (3L, "u")).toDF("doc_id", "text")
    val once = Dedup.exactDedup(docs, "doc_id", "text")
      .select(col("keeper_id").as("doc_id")).join(docs, "doc_id")
    val twice = Dedup.exactDedup(once, "doc_id", "text")
    assert(twice.count() == once.count())
  }

  test("connectedComponents labels chains and separate clusters by min id") {
    import spark.implicits._
    // one 4-node path (diameter 3, needs multiple propagation rounds),
    // one disjoint pair, pairs given as id_a < id_b
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents raises instead of returning unconverged labels") {
    import spark.implicits._
    // a 6-node path cannot converge in one iteration
    val pairs = (1L to 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs, maxIter = 1)
    }
  }
  test("shingleContamination counts distinct overlapping shingles vs the bench set") {
    val docs = Seq(
      (2L, "a b c d e"),        // bench (id % 2 == 0)
      (1L, "a b c d x"),        // shares "a b c" and "b c d"
      (3L, "p q r s t"),        // no overlap
      (5L, "c d e zz yy")       // shares "c d e"
    ).toDF("doc_id", "text")
    val out = Dedup.shingleContamination(docs, "doc_id", "text",
      col("doc_id") % 2 === 0, k = 3, minHits = 2)
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect().toSeq
    assert(out == Seq((1L, 2L, true), (5L, 1L, false)))
  }

  test("prefixDedup groups on the normalized prefix, keeps the min id") {
    val base = ("w " * 50).trim                  // 99 chars: prefix-80 equal
    val docs = Seq(
      (4L, base + " tail one"),
      (2L, base + "   tail two extended further"),
      (9L, "completely different text")
    ).toDF("doc_id", "text")
    val out = Dedup.prefixDedup(docs, "doc_id", "text", prefixLen = 80)
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect().toSeq
    assert(out == Seq((2L, 2L, true), (4L, 2L, false), (9L, 1L, true)))
  }

  test("connectedComponents broadcast and shuffled label joins agree bit-identically") {
    // deep chain (diameter drives the loop), clique, isolated pair, seeded
    // pseudo-random edges
    val chain = (1L until 15L).map(i => (i, i + 1))
    val clique = for (a <- 20L to 24L; b <- (a + 1) to 24L) yield (a, b)
    val pair = Seq((90L, 91L))
    val rnd = (0 until 60).map { i =>
      val a = (i * 2654435761L) % 37 + 100
      val b = (i * 40503L + 7) % 37 + 100
      (a, b)
    }.filter(e => e._1 != e._2)
    for (edges <- Seq(chain, clique ++ pair, rnd, chain ++ clique ++ rnd)) {
      val pairs = edges.toDF("id_a", "id_b")
      val (bcast, shuffled) = bothArms(Dedup.connectedComponents(pairs, maxIter = 60)
        .as[(Long, Long)].collect().toSet)
      assert(shuffled == bcast && shuffled.nonEmpty,
        s"broadcast != shuffled for ${edges.take(5)}...")
      // reference labels: a driver-side union-find that always hangs the
      // larger root under the smaller, so each root is its component's min
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else find(p)
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      assert(bcast == parent.keys.map(n => n -> find(n)).toSet,
        s"labels != union-find reference for ${edges.take(5)}...")
    }
  }

  test("clusterRepresentatives elects the longest member per component") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 30L), (5L, 7L), (6L, 9L))
      .toDF("doc_id", "n_chars")
    val out = Dedup.clusterRepresentatives(Dedup.connectedComponents(pairs), docs,
        "doc_id", "n_chars")
      .orderBy("component", "doc_id")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, 1L, 10L, 3L, false),
      (1L, 2L, 30L, 3L, true),   // ties on n_chars break to min id
      (1L, 3L, 30L, 3L, false),
      (5L, 5L, 7L, 2L, false),
      (5L, 6L, 9L, 2L, true)))
  }

  test("commonLineRemoval drops corpus-frequent lines, keeps order, exact counts") {
    val docs = Seq(
      (1L, Seq("COOKIE BANNER", "real content a", "FOOTER")),
      (2L, Seq("COOKIE BANNER", "real content b", "FOOTER")),
      (3L, Seq("FOOTER", "COOKIE BANNER", "unique c")),
      (4L, Seq("COOKIE BANNER", "FOOTER"))) // all boilerplate
      .toDF("doc_id", "lines")
    val out = Dedup.commonLineRemoval(docs, "doc_id", col("lines"), maxFreq = 2)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "real content a", 1L, 2L),
      (2L, "real content b", 1L, 2L),
      (3L, "unique c", 1L, 2L),
      (4L, "", 0L, 2L))) // fully-boilerplate doc still emits, empty
  }

  test("commonLineRemoval with a loose threshold round-trips every doc") {
    val docs = Seq(
      (1L, Seq("x", "y", "z")),
      (2L, Seq("x", "x", "q"))) // duplicate line WITHIN a doc counts per occurrence
      .toDF("doc_id", "lines")
    val out = Dedup.commonLineRemoval(docs, "doc_id", col("lines"),
      maxFreq = 100, sep = "\n")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq((1L, "x\ny\nz", 3L, 0L), (2L, "x\nx\nq", 3L, 0L)))
  }

  test("commonLineRemoval emits docs whose lines array is empty or NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, Seq("a", "b")),
      (2L, Seq.empty[String]),
      (3L, null.asInstanceOf[Seq[String]])
    ).toDF("doc_id", "lines")
    val out = Dedup.commonLineRemoval(docs, "doc_id", col("lines"), maxFreq = 100)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq((1L, "a\nb", 2L, 0L), (2L, "", 0L, 0L), (3L, "", 0L, 0L)))
  }

  test("dupSpanStats: within-doc and cross-doc repeats both count; short docs drop") {
    // doc 1: "a b c a b c" → 4 tri-spans [abc, bca, cab, abc]: 'a b c' ×2
    //   (within-doc repeat) → n_dup 2, bp 5000
    // doc 2: "x y z w" → 2 spans [xyz, yzw], 'x y z' also in doc 3 → n_dup 1
    // doc 3: "x y z" → 1 span, duplicated (cross-doc) → bp 10000
    // doc 4: "p q" → no 3-token span → no row
    val docs = Seq((1L, "a b c a b c"), (2L, "x y z w"), (3L, "x y z"),
      (4L, "p q")).toDF("doc_id", "text")
    val out = Dedup.dupSpanStats(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 4L, 2L, 5000L), (2L, 2L, 1L, 5000L),
      (3L, 1L, 1L, 10000L)))
  }

  test("mergeComponents equals full recompute: bridges, new nodes, deep clusters") {
    // existing: a resolved DEEP chain {1..4} plus {10,11}; the star form of
    // the map must let a bridge (4,10) merge both in O(1) rounds, a
    // brand-new pair (20,21) enter, and untouched clusters stay put
    val oldPairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val newPairs = Seq((4L, 10L), (20L, 21L)).toDF("id_a", "id_b")
    val existing = Dedup.connectedComponents(oldPairs)
    val merged = Dedup.mergeComponents(existing, newPairs)
      .as[(Long, Long)].collect().toSet
    val full = Dedup.connectedComponents(oldPairs.unionByName(newPairs))
      .as[(Long, Long)].collect().toSet
    assert(merged == full && merged.contains((11L, 1L)) && merged.contains((21L, 20L)))
  }

  test("mergeComponents equals full recompute on a random pair stream") {
    val rng = new scala.util.Random(7)
    val all = Seq.fill(60)((rng.nextInt(30).toLong, rng.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
    val (oldP, newP) = all.splitAt(all.size / 2)
    val existing = Dedup.connectedComponents(oldP.toDF("id_a", "id_b"))
    val merged = Dedup.mergeComponents(existing, newP.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toSet
    val full = Dedup.connectedComponents(all.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toSet
    assert(merged == full)
  }

  test("componentIndex equals the direct derivation and writes exactly once per JVM") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),   // near-dup of 1
      (3L, "totally different words here now"),
      (4L, "alpha beta gamma delta epsilon")) // exact dup of 1
      .toDF("doc_id", "text")
    val dir = tmpDir("graft_cidx") + "/idx"
    val (pairs, comp) = Dedup.componentIndex(docs, "doc_id", "text",
      shingleK = 2, numHashes = 16, bands = 8, threshold = 0.25, indexDir = dir)
    val directPairs = Dedup.minHashNearDup(docs, "doc_id", "text",
      shingleK = 2, numHashes = 16, bands = 8, threshold = 0.25)
    val directComp = Dedup.connectedComponents(directPairs)
    assert(pairs.as[(Long, Long, Double)].collect().toSet ==
      directPairs.as[(Long, Long, Double)].collect().toSet)
    assert(comp.as[(Long, Long)].collect().toSet ==
      directComp.as[(Long, Long)].collect().toSet)
    // second touch serves the SAME files — no rewrite (mtimes unchanged)
    def mtimes = new java.io.File(s"$dir/pairs").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    val before = mtimes
    val (pairs2, _) = Dedup.componentIndex(docs, "doc_id", "text",
      shingleK = 2, numHashes = 16, bands = 8, threshold = 0.25, indexDir = dir)
    pairs2.count()
    assert(mtimes == before, "second componentIndex call rewrote the index")
  }

  test("q443: cells are the power of two above n/32; drops have a witness") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    val n = emb.size.toLong
    var cells = 1L
    while (cells <= n / 32L) cells *= 2
    val out = SparkEntry.queries("q443_semdedup_lsh")(spark, sf)
      .select("vec_id", "cell", "kept").as[(Long, Long, Long)].collect()
    assert(out.length == n.toInt)
    assert(out.forall(r => r._2 >= 0 && r._2 < cells),
      s"cell out of [0, $cells)")
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val byCell = out.groupBy(_._2)
    out.filter(_._3 == 0L).foreach { case (id, cell, _) =>
      val witness = byCell(cell).exists { case (lo, _, _) =>
        lo < id && cos(emb(id), emb(lo)) > 0.4
      }
      assert(witness, s"dropped $id has no lower-id cos>0.4 witness in cell $cell")
    }
    // kept rows: no witness may exist (the prune is exact within a cell)
    out.filter(_._3 == 1L).foreach { case (id, cell, _) =>
      val witness = byCell(cell).exists { case (lo, _, _) =>
        lo < id && cos(emb(id), emb(lo)) > 0.4
      }
      assert(!witness, s"kept $id actually has a witness in cell $cell")
    }
  }

  test("q445: deletion neighborhood has FULL recall at lev <= 1") {
    val names = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_name"), col("c_custkey"))
      .as[(String, Long)].collect()
      .groupBy(_._1).map { case (nm, rs) => nm -> rs.map(_._2).min }.toSeq ++
      Seq("Customer#A00001111" -> 900000001L, "Customer#B00001111" -> 900000002L)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val truth = (for {
      (na, ga) <- names; (nb, gb) <- names
      if ga < gb && lev(na, nb) <= 1
    } yield (ga, gb)).toSet
    val got = SparkEntry.queries("q445_name_group_join")(spark, sf)
      .select("gid_a", "gid_b").as[(Long, Long)].collect().toSet
    assert(got == truth,
      s"missed=${(truth -- got).take(3)} extra=${(got -- truth).take(3)}")
  }

  test("q446: entities are closed over q445's pairs and sizes add up") {
    val pairs = SparkEntry.queries("q445_name_group_join")(spark, sf)
      .select("gid_a", "gid_b").as[(Long, Long)].collect()
    val ent = SparkEntry.queries("q446_er_groups")(spark, sf)
      .select("gid", "entity_id", "n_groups", "n_members")
      .as[(Long, Long, Long, Long)].collect()
    val label = ent.map(r => r._1 -> r._2).toMap
    pairs.foreach { case (a, b) =>
      assert(label(a) == label(b), s"pair ($a,$b) split across entities")
    }
    // every entity label is the min gid of its members (min-label converged)
    ent.groupBy(_._2).foreach { case (e, rows) =>
      assert(rows.map(_._1).min == e, s"entity $e is not its min member")
      assert(rows.forall(_._3 == rows.length), s"entity $e n_groups wrong")
    }
    val total = spark.read.parquet(s"$sf/customer.parquet").count() + 2
    assert(ent.groupBy(_._2).map(_._2.head._4).sum == total,
      "entity member counts must partition the member universe")
  }

  test("q447: exactly the full confirm listing gated to est>=0.5 and sim_bp>=9000 (retired q276 shape)") {
    // the superlinear original — exact levenshtein over EVERY banded
    // candidate — rebuilt inline as the yardstick (q276 now registers
    // q447's estimate-gated plan)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val (pairs, _) = SparkEntry.dedupIndex(spark, sf)
    val t = docs.select(col("doc_id"), col("text"))
    val full = pairs
      .join(t.select(col("doc_id").as("id_a"), col("text").as("__ta")), "id_a")
      .join(t.select(col("doc_id").as("id_b"), col("text").as("__tb")), "id_b")
      .withColumn("lev", levenshtein(col("__ta"), col("__tb")).cast("long"))
      .withColumn("sim_bp", (lit(10000L) - expr(
        "(10000 * lev) div greatest(length(__ta), length(__tb), 1)")).cast("long"))
      .filter(col("est_jaccard") >= 0.5 && col("sim_bp") >= 9000)
      .select("id_a", "id_b", "lev").as[(Long, Long, Long)].collect().toSet
    val pruned = SparkEntry.queries("q447_confirm_pruned")(spark, sf)
      .select("id_a", "id_b", "lev").as[(Long, Long, Long)].collect().toSet
    assert(pruned == full,
      "the prefilter must be semantics-preserving at the 9000 bp threshold")
  }

  // ------------------------------------------------------------- retired
  // The superlinear originals of the retired keys (q127/q203/q273 here,
  // q394 in RelationalSpec) live only in the specs — each rebuilt inline
  // and pinned against its registered twin or brute force, so the
  // yardstick semantics stay exercised without shipping a melting plan
  // under a registered key.

  /** MULTI-PASS blocked edit-distance self-join over customer names — the
    * row-level yardstick for q127's pair listing and q203's transitive
    * entity resolution (both keys register q445/q446's group plans):
    * candidate pairs come from equi-joins on blocking keys, so Levenshtein
    * — quadratic in the naive formulation — runs only inside blocks; there
    * is NO cartesian anywhere in the plan. A single blocking key has a
    * structural blind spot (prefix-16 blocking can never find a pair whose
    * edit sits IN the first 16 chars), so two passes with complementary
    * keys union their candidates — standard multi-blocking:
    *   pass 1: block on the 16-char prefix, DP on the tails
    *           (edit distance is common-PREFIX invariant)
    *   pass 2: block on (length, last-8 suffix), DP on the heads
    *           (edit distance is common-SUFFIX invariant)
    * A substitution anywhere in an 18-char name lands in at least one pass;
    * two fixture rows whose edit is at char 10 (invisible to pass 1) prove
    * pass 2 carries its weight. */
  private def fuzzyCustomerPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = SparkEntry.T(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      .unionByName(Seq(
        (900000001L, "Customer#A00001111"),
        (900000002L, "Customer#B00001111")).toDF("c_custkey", "c_name"))
    def pass(blk: Column, residue: Column): DataFrame = {
      val c = base.select(col("c_custkey"), blk.as("__blk"), residue.as("__res"))
      val a = c.select(col("__blk"), col("c_custkey").as("key_a"), col("__res").as("res_a"))
      val b = c.select(col("__blk"), col("c_custkey").as("key_b"), col("__res").as("res_b"))
      a.join(b, Seq("__blk"))
        .filter(col("key_a") < col("key_b"))
        .withColumn("dist", levenshtein(col("res_a"), col("res_b")).cast("long"))
        .filter(col("dist") <= 1)
        .select(col("key_a"), col("key_b"), col("dist"))
    }
    val p1 = pass(substring(col("c_name"), 1, 16),
      substring(col("c_name"), 17, 1000000))
    val p2 = pass(struct(length(col("c_name")), expr("substring(c_name, -8, 8)")),
      expr("substring(c_name, 1, greatest(length(c_name) - 8, 0))"))
    // a pair agreeing on BOTH keys surfaces twice with the same dist —
    // dedup on the pair (dist is a pure function of it)
    p1.unionByName(p2).dropDuplicates("key_a", "key_b")
  }

  test("retired q127 shape: every row-level fuzzy pair has a q445 group-pair witness") {
    val rowPairs = fuzzyCustomerPairs(spark, sf)
      .select("key_a", "key_b").as[(Long, Long)].collect()
    assert(rowPairs.nonEmpty, "fixture pairs must exist")
    val names = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"), col("c_name")).as[(Long, String)].collect() ++
      Seq((900000001L, "Customer#A00001111"), (900000002L, "Customer#B00001111"))
    val gidOf = names.groupBy(_._2).iterator.flatMap { case (_, rs) =>
      val g = rs.map(_._1).min; rs.map(r => r._1 -> g)
    }.toMap
    val groupPairs = SparkEntry.queries("q445_name_group_join")(spark, sf)
      .select("gid_a", "gid_b").as[(Long, Long)].collect().toSet
    rowPairs.foreach { case (a, b) =>
      val (ga, gb) = (gidOf(a), gidOf(b))
      assert(ga == gb || groupPairs((math.min(ga, gb), math.max(ga, gb))),
        s"row pair ($a,$b) in groups ($ga,$gb) has no q445 witness — " +
          "the group join lost recall the row join had")
    }
  }

  test("retired q203 shape: the member-level closure refines q446's entities") {
    // original member-level MDM, inline: row pairs -> components -> entity
    val base = spark.read.parquet(s"$sf/customer.parquet").select(col("c_custkey"))
      .unionByName(Seq(900000001L, 900000002L).toDF("c_custkey"))
    val pairs = fuzzyCustomerPairs(spark, sf)
      .select(col("key_a").as("id_a"), col("key_b").as("id_b"))
    val comp = ops.Dedup.connectedComponents(pairs)
    val memberEntity = base.join(comp, base("c_custkey") === comp("node"), "left")
      .select(col("c_custkey"),
        coalesce(col("component"), col("c_custkey")).as("entity_id"))
      .as[(Long, Long)].collect().toMap
    // q446's entity per MEMBER = the entity of the member's name group
    val names = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"), col("c_name")).as[(Long, String)].collect() ++
      Seq((900000001L, "Customer#A00001111"), (900000002L, "Customer#B00001111"))
    val gidOf = names.groupBy(_._2).iterator.flatMap { case (_, rs) =>
      val g = rs.map(_._1).min; rs.map(r => r._1 -> g)
    }.toMap
    val groupEntity = SparkEntry.queries("q446_er_groups")(spark, sf)
      .select("gid", "entity_id").as[(Long, Long)].collect().toMap
    // q445 ⊇ q127's pair set (full deletion-neighborhood recall), so the
    // member closure can only SPLIT what the group closure merges, never
    // the reverse: same member entity ⇒ same group entity
    memberEntity.groupBy(_._2).values.foreach { members =>
      val groupEnts = members.keys.map(m => groupEntity(gidOf(m))).toSet
      assert(groupEnts.size == 1,
        s"a member-level entity spans group entities $groupEnts")
    }
  }

  test("retired q273 shape: fixed-k SemDeDup kept flags match their witnesses") {
    val embDf = spark.read.parquet(s"$sf/embeddings.parquet")
    val trained = ops.Similarity.ivfTrainMicro(embDf, "vec_id", "embedding",
      k = 4, iterations = 2)
    val assigned = ops.Similarity.microAssign(embDf, "vec_id", "embedding", trained)
    val withVec = assigned.join(embDf.select(col("vec_id"), col("embedding")), "vec_id")
    val hi = withVec.select(col("cell"), col("vec_id").as("__ih"), col("embedding").as("vh"))
    val lo = withVec.select(col("cell"), col("vec_id").as("__il"), col("embedding").as("vl"))
    val dropped = hi.join(lo, Seq("cell"))
      .filter(col("__il") < col("__ih"))
      .filter((ops.Similarity.dot("vh", "vl") /
        (ops.Similarity.norm("vh") * ops.Similarity.norm("vl"))) > 0.4)
      .select(col("__ih").as("vec_id")).distinct()
      .as[Long].collect().toSet
    val cells = assigned.select("vec_id", "cell").as[(Long, Long)].collect().toMap
    val emb = embDf.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    emb.keys.foreach { id =>
      val witness = emb.keys.exists(lo =>
        lo < id && cells(lo) == cells(id) && cos(emb(id), emb(lo)) > 0.4)
      assert(dropped(id) == witness,
        s"vec $id: dropped=${dropped(id)} but witness=$witness in cell ${cells(id)}")
    }
  }
}
