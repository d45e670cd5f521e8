package graft.operators

import graft.SparkSpec

/** Unit tests for the dedup library functions on tiny synthetic corpora
  * (the fixture-bound oracle queries cover them at sf0.01; these pin the
  * API semantics on arbitrary inputs). */
class DedupSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("goldenRecords: frequency-then-value survivorship, min id, max length") {
    import spark.implicits._
    val members = Seq(
      // comp 1: source web×2 beats api×1; lang tie de/en×1 -> 'de'
      (1L, 10L, "web", "en", 100L),
      (1L, 11L, "web", "de", 300L),
      (1L, 12L, "api", "fr", 200L),
      // comp 2: singleton
      (2L, 20L, "api", "en", 50L)
    ).toDF("comp", "doc_id", "source", "lang", "n_chars")
    val got = Dedup.goldenRecords(members)
      .orderBy("component").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getLong(5)))
    // comp1 langs are de/en/fr each once -> tie broken to 'de'
    assert(got.toSeq == Seq(
      (1L, 10L, "web", "de", 300L, 3L),
      (2L, 20L, "api", "en", 50L, 1L)))
  }

  test("exact: groups identical texts, keeps the min doc_id") {
    val d = docs((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
    val r = Dedup.exact(d).collect()
      .map(x => (x.getLong(1), x.getLong(2))).toSet
    assert(r == Set((1L, 2L), (3L, 1L))) // (keep_doc_id, n_copies)
  }

  test("shingleRows: positional 3-gram shingles, distinct per doc") {
    val d = docs((1L, "a b c d"), (2L, "a b"))
    val r = Dedup.shingleRows(d).collect()
      .map(x => (x.getLong(0), x.getString(1))).toSet
    assert(r == Set((1L, "a b c"), (1L, "b c d"))) // doc 2: too short
  }

  test("jaccardPairs finds a planted near-duplicate and skips unrelated docs") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 29).map(i => s"tok$i").mkString(" ") + " tokX"
    val other = (100 to 130).map(i => s"w$i").mkString(" ")
    val r = Dedup.jaccardPairs(
      docs((1L, base), (2L, nearDup), (3L, other)), 0.5).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSet == Set((1L, 2L)))
    assert(r.head.getDouble(2) > 0.8)
  }

  test("minhashLshPairs agrees with exact jaccard on a planted pair") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 39).map(i => s"tok$i").mkString(" ") + " tokX"
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val r = Dedup.minhashLshPairs(
      docs((1L, base), (2L, nearDup), (3L, other)), 0.5).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("jaccardPairs maxShingleFreq cap bounds a pathological hot bucket") {
    // every doc shares one stopword trigram ("the end of") but is
    // otherwise unique: uncapped, that single bucket contributes all
    // n(n-1)/2 pairs — exactly the quadratic blowup the cap guards
    val d = docs((1 to 12).map(i =>
      (i.toLong, s"the end of a$i b$i c$i d$i")): _*)
    val uncapped = Dedup.jaccardPairs(d, 0.0001).count()
    assert(uncapped == 66) // 12*11/2: all pairs overlap on the hot shingle
    // cap below the hot shingle's doc frequency: it leaves the shingle
    // universe, remaining shingles are doc-unique -> no candidate pairs
    val capped = Dedup.jaccardPairs(d, 0.0001, maxShingleFreq = Some(5)).count()
    assert(capped == 0)
    // a genuine near-dup pair still survives the cap
    val d2 = docs((1L, "x1 x2 x3 x4 x5 x6"), (2L, "x1 x2 x3 x4 x5 zz"),
      (3L, "y1 y2 y3 y4 y5 y6"))
    val r = Dedup.jaccardPairs(d2, 0.4, maxShingleFreq = Some(5)).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("embeddingNearDupLshPairs: candidate pairs agree with the exact baseline scores") {
    import spark.implicits._
    val mk = (seed: Int) => Seq.tabulate(64)(j =>
      math.sin(seed * 31 + j * 7).toFloat)
    val near = mk(1).zipWithIndex.map { case (v, j) =>
      if (j == 0) v + 0.01f else v }
    val e = Seq((1L, mk(1)), (2L, near), (3L, mk(99)))
      .toDF("vec_id", "embedding")
    val lsh = Dedup.embeddingNearDupLshPairs(e, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = Dedup.embeddingNearDupPairs(e, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // LSH candidates are a subset of the exact pairs, with identical
    // cosine scores; the planted near-identical pair must survive
    assert(lsh.subsetOf(exact))
    assert(lsh.exists { case (a, b, c) => a == 1L && b == 2L && c > 0.99 })
  }

  test("simhash: identical docs get identical fingerprints, disjoint docs differ") {
    val d = docs((1L, "a b c d e"), (2L, "a b c d e"), (3L, "v w x y z"))
    val r = Dedup.simhash(d).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r(1L) == r(2L))
    assert(r(1L) != r(3L))
    assert(r.values.forall(v => v >= 0 && v < (1L << 32)))
  }

  test("LSH soundness on a random corpus: every LSH pair is an exact pair") {
    // 40 docs over a small vocabulary (seeded): base docs, exact copies,
    // and one-token mutations — the LSH pipeline exact-verifies its
    // candidates, so its output must be a SUBSET of the exact pairs with
    // identical jaccard values, and exact duplicates (identical
    // signatures in every band) must always be found
    val rnd = new scala.util.Random(7)
    val vocab = Vector.tabulate(30)(i => s"w$i")
    val base = (0 until 20).map(i =>
      (i.toLong, Seq.fill(60)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val copies = (0 until 10).map(i =>
      (100L + i, base(i)._2)) // exact duplicates
    val mutated = (0 until 10).map { i =>
      val toks = base(i)._2.split(" ")
      toks(rnd.nextInt(toks.length)) = "MUT"
      (200L + i, toks.mkString(" "))
    }
    val d = docs((base ++ copies ++ mutated): _*)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = pairSet(Dedup.minhashLshPairs(d, 0.5))
    val exact = pairSet(Dedup.jaccardPairs(d, 0.5))
    assert(lsh.subsetOf(exact),
      s"LSH emitted pairs the exact baseline doesn't have: ${lsh -- exact}")
    (0 until 10).foreach { i =>
      assert(lsh.exists { case (a, b, j) =>
        a == i.toLong && b == 100L + i && j == 1.0 },
        s"exact duplicate pair ($i, ${100 + i}) missed by LSH")
    }
  }

  test("jaccardPrefixPairs is EXACTLY jaccardPairs on a random corpus (lossless filter)") {
    // prefix filtering must be lossless: same pairs, same jaccard values,
    // on a corpus of random docs + exact copies + one-token mutations
    val rnd = new scala.util.Random(13)
    val vocab = Vector.tabulate(25)(i => s"w$i")
    val base = (0 until 15).map(i =>
      (i.toLong, Seq.fill(50)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val copies = (0 until 7).map(i => (100L + i, base(i)._2))
    val mutated = (0 until 7).map { i =>
      val toks = base(i)._2.split(" ")
      toks(rnd.nextInt(toks.length)) = "MUT"
      (200L + i, toks.mkString(" "))
    }
    val d = docs((base ++ copies ++ mutated): _*)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    Seq(0.3, 0.8).foreach { t =>
      val exact = pairSet(Dedup.jaccardPairs(d, t))
      Seq(1, 4, 50).foreach { q =>
        val pp = pairSet(Dedup.jaccardPrefixPairs(d, t, evidence = q))
        assert(pp == exact,
          s"t=$t q=$q missed=${exact -- pp} extra=${pp -- exact}")
      }
    }
  }

  test("containmentPrefixPairs is EXACTLY containmentPairs on a random corpus (lossless filter)") {
    // asymmetric prefix filtering must be lossless: same (src, dst,
    // containment) rows as the uncapped all-shingle self-join, including
    // short-into-long containments where only the SRC side is bounded
    val rnd = new scala.util.Random(29)
    val vocab = Vector.tabulate(25)(i => s"w$i")
    val base = (0 until 12).map(i =>
      (i.toLong, Seq.fill(40)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val copies = (0 until 5).map(i => (100L + i, base(i)._2))
    // fragments: a contiguous slice of a base doc — high containment
    // fragment→base, low the other way
    val fragments = (0 until 5).map { i =>
      (200L + i, base(i)._2.split(" ").slice(5, 25).mkString(" "))
    }
    val mutated = (0 until 5).map { i =>
      val toks = base(i)._2.split(" ")
      toks(rnd.nextInt(toks.length)) = "MUT"
      (300L + i, toks.mkString(" "))
    }
    val d = docs((base ++ copies ++ fragments ++ mutated): _*)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    Seq(0.4, 0.8).foreach { t =>
      val exact = pairSet(Dedup.containmentPairs(d, t))
      // evidence sweep: q=1 (plain prefix lemma), q=4 (default), q=50
      // (clamps to the required overlap on every doc)
      Seq(1, 4, 50).foreach { q =>
        val pp = pairSet(Dedup.containmentPrefixPairs(d, t, evidence = q))
        assert(pp == exact,
          s"t=$t q=$q missed=${exact -- pp} extra=${pp -- exact}")
      }
    }
  }

  test("connectedComponents: chain + triangle + pair collapse to min-id labels") {
    import spark.implicits._
    // chain 1-2-3-4 (transitive, never all-pairs), triangle 10-11-12,
    // isolated pair 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("id1", "id2")
    val r = Dedup.connectedComponents(edges).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("simhashPairs is lossless for Hamming <= 3 (matches all-pairs brute force)") {
    val rnd = new scala.util.Random(46)
    val vocab = (0 until 12).map(i => s"w$i")
    val d = docs((0 until 40).map(i =>
      (i.toLong, Seq.fill(8)(vocab(rnd.nextInt(vocab.length))).mkString(" "))): _*)
    val fp = Dedup.simhash(d).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val expected = (for {
      (i1, s1) <- fp; (i2, s2) <- fp
      if i1 < i2 && java.lang.Long.bitCount(s1 ^ s2) <= 3
    } yield (i1, i2)).toSet
    val got = Dedup.simhashPairs(d, maxHamming = 3).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got == expected) // byte bands are exhaustive for radius 3
    assert(expected.nonEmpty, "fixture should produce at least one close pair")
  }

  test("simhashPairs maxBandFreq cap drops pathological band buckets") {
    // identical docs -> identical fingerprints -> every band bucket holds
    // all of them; the cap empties candidate generation
    val d = docs((1 to 10).map(i => (i.toLong, "same text here now")): _*)
    val uncapped = Dedup.simhashPairs(d).count()
    assert(uncapped == 45) // 10*9/2 all-pairs at Hamming 0
    val capped = Dedup.simhashPairs(d, maxBandFreq = Some(5)).count()
    assert(capped == 0)
  }

  test("connectedComponents returns an empty labeling on an empty edge list") {
    import spark.implicits._
    // a clean corpus yields zero near-dup pairs; sum over zero rows is
    // NULL, which must not NPE the convergence check
    val edges = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Dedup.connectedComponents(edges).count() == 0)
  }

  test("connectedComponents handles a 60-deep chain (pointer jumping, not O(diameter))") {
    import spark.implicits._
    // diameter 59 >> maxIter 25: only the O(log diameter) jump converges
    val edges = (0L until 59L).map(i => (i, i + 1)).toDF("id1", "id2")
    val r = Dedup.connectedComponents(edges).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(r.length == 60 && r.forall(_._2 == 0L))
  }

  test("connectedComponents matches driver-side union-find on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val edges = (0 until 60).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    // reference: plain union-find over the same edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      .map(n => n -> find(n)).toMap
    val got = Dedup.connectedComponents(edges.toDF("id1", "id2")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(got == expected)
  }

  test("containmentPairs is directional: embedded doc scores 1.0, host scores lower") {
    val short = (1 to 10).map(i => s"t$i").mkString(" ")
    val long = short + " " + (100 to 120).map(i => s"u$i").mkString(" ")
    val other = (200 to 220).map(i => s"v$i").mkString(" ")
    val r = Dedup.containmentPairs(
      docs((1L, short), (2L, long), (3L, other)), 0.9).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
    // every shingle of the short doc appears in the long doc, not vice versa
    assert(r == Set((1L, 2L, 1.0)))
    // the df cap guards the hot-bucket blowup the same way jaccardPairs'
    // does: with every doc sharing one trigram, capping below its df
    // empties the candidate set
    val hot = docs((1 to 12).map(i =>
      (i.toLong, s"the end of a$i b$i c$i d$i")): _*)
    assert(Dedup.containmentPairs(hot, 0.0001,
      maxShingleFreq = Some(5)).count() == 0)
  }

  test("boilerplateShingles surfaces the shared template trigram") {
    val d = docs((1 to 8).map(i =>
      (i.toLong, s"copyright acme corp body$i text$i here$i")): _*)
    val r = Dedup.boilerplateShingles(d, minDf = 5, topK = 5).collect()
      .map(x => (x.getString(0), x.getLong(1)))
    assert(r.head == (("copyright acme corp", 8L)))
  }

  test("fuzzyMatchBlocked: edit-distance pairs only within a block") {
    import spark.implicits._
    val recs = Seq(
      (1L, "b1", "alpha"),
      (2L, "b1", "alphx"),   // distance 1 from alpha, same block
      (3L, "b2", "alpha"),   // identical name, DIFFERENT block -> no pair
      (4L, "b1", "omega3")   // distance > 2 from everything in b1
    ).toDF("id", "blk", "name")
    val r = Dedup.fuzzyMatchBlocked(recs, Seq("blk"), "id", "name", 2)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(r == Set((1L, 2L, 1)))
  }

  test("fuzzyMatchBlocked length banding is lossless (random lengths straddle band edges)") {
    import spark.implicits._
    // random names with lengths 1..14 spread across two blocks: every
    // |len diff| <= 2 pair must survive the band equi-key, including
    // pairs whose lengths sit in adjacent bands (len DIV 3 boundaries)
    val rnd = new scala.util.Random(31)
    val alpha = "abcde"
    val recs = (1L to 60L).map { id =>
      val len = 1 + rnd.nextInt(14)
      val nm = Seq.fill(len)(alpha(rnd.nextInt(alpha.length))).mkString
      (id, s"b${id % 2}", nm)
    }
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      (i1, b1, n1) <- recs; (i2, b2, n2) <- recs
      if i1 < i2 && b1 == b2 && lev(n1, n2) <= 2
    } yield (i1, i2, lev(n1, n2))).toSet
    val got = Dedup.fuzzyMatchBlocked(recs.toDF("id", "blk", "name"),
      Seq("blk"), "id", "name", 2)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(got == expected,
      s"missed=${expected -- got} extra=${got -- expected}")
  }

  test("dropNearDuplicates keeps cluster minimum and unrelated docs") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 39).map(i => s"tok$i").mkString(" ") + " tokX"
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val kept = Dedup.dropNearDuplicates(
      docs((1L, base), (2L, nearDup), (3L, other)), 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("simhash64Pairs is lossless for Hamming <= 3 (matches all-pairs brute force)") {
    val rnd = new scala.util.Random(46)
    val vocab = (0 until 12).map(i => s"w$i")
    val d = docs((0 until 40).map(i =>
      (i.toLong, Seq.fill(8)(vocab(rnd.nextInt(vocab.length))).mkString(" "))): _*)
    // brute-force distance from the 4x16-bit band fingerprints
    val fp = Dedup.simhash64(d).collect()
      .map(x => (x.getLong(0), Seq(x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4))))
    val expected = (for {
      (i1, b1) <- fp; (i2, b2) <- fp
      if i1 < i2 &&
        b1.zip(b2).map { case (a, b) => java.lang.Long.bitCount(a ^ b) }.sum <= 3
    } yield (i1, i2)).toSet
    val got = Dedup.simhash64Pairs(d, maxHamming = 3).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got == expected) // 16-bit bands are exhaustive for radius 3
    // 64-bit fingerprints separate better than 32-bit: near pairs on the
    // same corpus must be a subset of the 32-bit radius-3 pairs' docs
    val got32 = Dedup.simhashPairs(d, maxHamming = 3).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got.size <= got32.size,
      s"64-bit bands admitted MORE pairs (${got.size}) than 32-bit (${got32.size})")
  }

  test("simhash64 bands are 16-bit values; identical docs collide, disjoint differ") {
    val d = docs((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "q r s t u v"))
    val rows = Dedup.simhash64(d).collect()
      .map(x => x.getLong(0) -> Seq(x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4))).toMap
    rows.values.flatten.foreach(b => assert(b >= 0 && b <= 0xFFFFL))
    assert(rows(1L) == rows(2L))
    assert(rows(1L) != rows(3L))
  }

  test("incrementalNearDedup: cross-batch collisions drop, in-batch near-dups keep min id") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 39).map(i => s"tok$i").mkString(" ") + " tokX"
    val fresh = (200 to 240).map(i => s"u$i").mkString(" ")
    val freshDup = (200 to 239).map(i => s"u$i").mkString(" ") + " uY"
    // batch 0 (history): the base doc only
    val seen = Dedup.minhashBandIndex(docs((1L, base)))
    // batch 1: an exact copy of history (11), a near-dup of history (12),
    // two in-batch near-dups (13 < 14), and nothing else
    val batch = docs((11L, base), (12L, nearDup), (13L, fresh), (14L, freshDup))
    val kept = Dedup.incrementalNearDedup(batch, seen, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 11 collides with history on every band; 12 on at least one (39/40
    // shared shingles -> signatures nearly identical); 14 is dropped as
    // the in-batch pair's higher id; 13 survives as the cluster min
    assert(kept == Set(13L))
    // replaying the SAME batch against an index extended with the
    // survivors drops everything — the incremental law
    val seen2 = seen.union(Dedup.minhashBandIndex(docs((13L, fresh))))
    val rerun = Dedup.incrementalNearDedup(batch, seen2, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rerun.isEmpty)
  }

  test("spanDedup strips only the cross-doc duplicated span") {
    val span = (1 to 8).map(i => s"dup$i").mkString(" ")
    val d = docs(
      (1L, s"a1 a2 $span a3 a4"),
      (2L, s"b1 $span b2 b3 b4 b5 b6"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9"))
    val r = Dedup.spanDedup(d, 8).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(r(1L) == ("a1 a2 a3 a4", 8L))
    assert(r(2L) == ("b1 b2 b3 b4 b5 b6", 8L))
    assert(r(3L) == ("c1 c2 c3 c4 c5 c6 c7 c8 c9", 0L)) // untouched
  }

  test("spanDedup matches a driver-side brute force on a random corpus") {
    val rnd = new scala.util.Random(20260812L)
    // small vocab + short windows force genuine cross-doc collisions
    val w = 4
    val corpus = (1L to 40L).map { id =>
      val n = 6 + rnd.nextInt(20)
      id -> (1 to n).map(_ => s"t${rnd.nextInt(6)}").mkString(" ")
    }
    // reference implementation: window strings, cross-doc dup set,
    // covered positions, survivors in order
    val wins = corpus.flatMap { case (id, text) =>
      val ts = text.split(" ")
      (0 to ts.length - w).map(i => (id, i, ts.slice(i, i + w).mkString(" ")))
    }
    val dup = wins.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
    val expected = corpus.map { case (id, text) =>
      val ts = text.split(" ")
      val covered = wins.collect {
        case (d, i, s) if d == id && dup(s) => i until i + w
      }.flatten.toSet
      val kept = ts.zipWithIndex.collect { case (t, i) if !covered(i) => t }
      id -> (kept.mkString(" "), (ts.length - kept.length).toLong)
    }.toMap
    val got = Dedup.spanDedup(docs(corpus: _*), w).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(got == expected)
  }

  test("cluster-aware split (q165): no near-dup component straddles a split") {
    import org.apache.spark.sql.functions._
    val r = graft.SparkEntry
      .queries("q165_cluster_aware_split")(spark, "/root/testdata/sf0.001")
    // the leakage guarantee: every cluster lands wholly in ONE split
    val straddling = r.groupBy("cluster")
      .agg(countDistinct("split").as("k")).filter(col("k") > 1).count()
    assert(straddling == 0)
    // every doc is assigned, each to exactly one of the three splits
    assert(r.select("doc_id").distinct().count() == r.count())
    assert(r.select("split").distinct().count() == 3)
  }

  test("class staging leaves a readable directory for an empty class") {
    import spark.implicits._
    val dir = tempPath("classes_")
      .resolve("in").toString
    val rows = Seq((0L, "a"), (3L, "b"), (1L, "c")).toDF("doc_id", "text")
    Dedup.stageClasses(rows.withColumn("k", $"doc_id" % 3), dir, 3)
    val staged = (0 until 3).map(k => spark.read.parquet(s"$dir/k=$k"))
    assert(staged.map(_.count()) == Seq(2L, 1L, 0L))
    assert(staged.forall(_.columns.toSeq == Seq("doc_id", "text")))
  }
}
