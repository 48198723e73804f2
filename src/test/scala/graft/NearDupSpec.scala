package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Jaccard, MinHash, Shingles, SimHash}

class NearDupSpec extends SparkSpec {
  import spark.implicits._

  /** 3 clearly-distinct docs + one near-dup of doc 1 (one word
    * changed) + one exact dup of doc 2. */
  private def corpus: DataFrame = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
    (2L, "one two three four five six seven eight nine ten eleven twelve"),
    (3L, "red green blue yellow purple orange pink brown black white gray cyan"),
    (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
    (5L, "one two three four five six seven eight nine ten eleven twelve"))
    .toDF("doc_id", "text")

  test("MinHash finds the planted near-dup and exact-dup pairs") {
    val got = MinHash.nearDupPairs(corpus, col("doc_id"), col("text"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 4L), (2L, 5L)))
  }

  test("MinHash jaccard values are exact") {
    val j = MinHash.nearDupPairs(corpus, col("doc_id"), col("text"))
      .filter(col("doc_a") === 2).select("jaccard").as[Double].head()
    assert(j == 1.0)
    val j14 = MinHash.nearDupPairs(corpus, col("doc_id"), col("text"))
      .filter(col("doc_a") === 1).select("jaccard").as[Double].head()
    // 10 shingles each, 9 shared → 9/11
    assert(j14 == math.rint(9.0 / 11.0 * 1e6) / 1e6)
  }

  test("SimHash: exact dups at hamming 0, near-dup under threshold, rest out") {
    val got = SimHash.nearDupPairs(corpus, col("doc_id"), col("text"))
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got((2L, 5L)) == 0L)
    assert(got.contains((1L, 4L)))
    assert(got.size == 2)
  }

  test("SimHash guard: agree = 1 quadratic band refuses corpus-scale input") {
    val big = spark.range(SimHash.QuadraticBandMaxDocs + 1)
      .selectExpr("id AS doc_id", "'guard fixture text' AS text")
    val e = intercept[IllegalArgumentException] {
      SimHash.nearDupPairs(big, col("doc_id"), col("text"))
    }
    assert(e.getMessage.contains("quadratic"))
    // both sanctioned escapes still build a plan: the explicit
    // override, and the scale-safe combination banding (no count
    // guard needed there — its selectivity is the fix)
    SimHash.nearDupPairs(big, col("doc_id"), col("text"), allowQuadraticBand = true)
    SimHash.nearDupPairs(big, col("doc_id"), col("text"), maxHamming = 3, agree = 5)
    // under the bound the default configuration is untouched
    val got = SimHash.nearDupPairs(corpus, col("doc_id"), col("text"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 4L), (2L, 5L)))
    // Sample/Limit plans report ESTIMATED plan-time row counts even
    // without CBO (GlobalLimit reports the limit value — an upper
    // bound). The guard must fall back to a real count() there: a
    // 500-doc corpus behind an over-cap LIMIT is admitted, not
    // spuriously refused on the limit's value. (Parquet-backed on
    // purpose: a limit over a LocalRelation is constant-folded away
    // by EliminateLimits and would never reach the guard.)
    val limited = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit((SimHash.QuadraticBandMaxDocs + 1).toInt)
    SimHash.nearDupPairs(limited, col("doc_id"), col("text")).queryExecution.executedPlan
    // and a Sample plan (rowCount = ceil(child × fraction), which can
    // undercount the draw) must also take the count() path — every
    // row sampled in, so the guard still refuses the over-cap corpus
    val sampled = big.sample(1.0, seed = 7)
    val e2 = intercept[IllegalArgumentException] {
      SimHash.nearDupPairs(sampled, col("doc_id"), col("text"))
    }
    assert(e2.getMessage.contains("quadratic"))
  }

  test("SimHash bitString renders 64 bits matching the packed long") {
    val sigs = SimHash.fingerprintsMapSide(corpus, col("doc_id"), col("text"), 3)
    val rendered = sigs.select(col("id"), SimHash.bitString(col("sig")).as("bs"), col("sig"))
      .as[(Long, String, Long)].collect()
    rendered.foreach { case (_, bs, sig) =>
      assert(bs.length == 64)
      assert(bs == (0 until 64).map(i => if ((sig >>> i & 1L) == 1L) '1' else '0').mkString)
    }
  }

  test("SimHash lane bound: over-bound docs refuse loudly; wide lanes stay exact") {
    def msgChain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.toString).mkString(" | ")
    val nBig = 70000
    // pre-exploded (id, sh) rows — fingerprints' own input shape; no
    // need to synthesize a 70k-word text
    val big = spark.range(nBig).selectExpr("1L AS id", "concat('sh', id) AS sh")
    // ANSI on (the session/Spark-4 default): the r17 15-bit-lane sums
    // are provably inside signed-long range for every doc under
    // 262 130 distinct shingles, so even this doc — 2× past the
    // 32 767 bound, and one that tripped Spark's generic
    // ARITHMETIC_OVERFLOW on the r16 16-bit layout (top-lane ones
    // ≈ 35k ≥ 32 768) — must get the guard's ACTIONABLE message
    val eAnsi = intercept[Throwable] {
      DeclarativeRef.fingerprints(big, "id", "sh").collect()
    }
    assert(msgChain(eAnsi).contains("distinct shingles") &&
      msgChain(eAnsi).contains("wideLanes"), msgChain(eAnsi))
    // exactly AT the bound, UNDER ANSI, the narrow path must be exact:
    // parity with the wide lanes, whose sums provably never overflow
    val atBound = spark.range(SimHash.MaxNarrowLaneShingles)
      .selectExpr("1L AS id", "concat('sh', id) AS sh")
    val narrowAt = DeclarativeRef.fingerprints(atBound, "id", "sh")
      .as[(Long, Long)].head()._2
    val wideAt = DeclarativeRef.fingerprints(atBound, "id", "sh", wideLanes = true)
      .as[(Long, Long)].head()._2
    assert(narrowAt == wideAt)
    // one past the bound refuses with the same actionable message
    val onePast = spark.range(SimHash.MaxNarrowLaneShingles + 1)
      .selectExpr("1L AS id", "concat('sh', id) AS sh")
    val ePast = intercept[Throwable] {
      DeclarativeRef.fingerprints(onePast, "id", "sh").collect()
    }
    assert(msgChain(ePast).contains("distinct shingles") &&
      msgChain(ePast).contains("wideLanes"), msgChain(ePast))
    // ANSI off: identical arithmetic (the 15-bit lane sums never
    // leave signed range in-bound), and past the bound the per-doc
    // guard still fires with the actionable message
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val e = intercept[Throwable] {
        DeclarativeRef.fingerprints(big, "id", "sh").collect()
      }
      assert(msgChain(e).contains("distinct shingles") &&
        msgChain(e).contains("wideLanes"), msgChain(e))
      val narrowAtOff = DeclarativeRef.fingerprints(atBound, "id", "sh")
        .as[(Long, Long)].head()._2
      assert(narrowAtOff == wideAt)
    } finally spark.conf.set("spark.sql.ansi.enabled", "true")
    // the widened path accepts the over-bound doc and must match a
    // pure-Scala reference computation of the same ones-count/majority
    // fingerprint (md5 hex char i/4, bit i%4, set iff 2·ones > n)
    val wide = DeclarativeRef.fingerprints(big, "id", "sh", wideLanes = true)
      .as[(Long, Long)].collect()
    assert(wide.length == 1 && wide.head._1 == 1L)
    val md = java.security.MessageDigest.getInstance("MD5")
    val ones = new Array[Long](64)
    (0 until nBig).foreach { i =>
      val hex = md.digest(s"sh$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      var b = 0
      while (b < 64) {
        if (((Character.digit(hex.charAt(b / 4), 16) >> (b % 4)) & 1) == 1) ones(b) += 1
        b += 1
      }
    }
    val ref = (0 until 64).map(i => if (2 * ones(i) > nBig) 1L << i else 0L)
      .reduce(_ | _)
    assert(wide.head._2 == ref,
      f"wide=${wide.head._2}%016x ref=$ref%016x")
    // lane-layout parity on ordinary docs, and the nearDupPairs
    // plumbing: wideLanes returns the identical pair set
    val ex = Shingles.exploded(corpus, col("doc_id"), col("text"), 3)
      .dropDuplicates("id", "sh")
    val narrow = DeclarativeRef.fingerprints(ex, "id", "sh").as[(Long, Long)].collect().toMap
    val wideAll = DeclarativeRef.fingerprints(ex, "id", "sh", wideLanes = true)
      .as[(Long, Long)].collect().toMap
    assert(narrow == wideAll && narrow.size == 5)
    val gotWide = SimHash.nearDupPairs(corpus, col("doc_id"), col("text"), wideLanes = true)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(gotWide == Set((1L, 4L), (2L, 5L)))
  }

  test("SimHash map-side fingerprints equal the aggregate form and keep the refusal") {
    def msgChain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.toString).mkString(" | ")
    // row-level parity on the fixture corpus (exact dups, near-dups)
    val ex = Shingles.exploded(corpus, col("doc_id"), col("text"), 3)
      .dropDuplicates("id", "sh")
    val agg = DeclarativeRef.fingerprints(ex, "id", "sh").as[(Long, Long)].collect().toMap
    val mapSide = SimHash.fingerprintsMapSide(corpus, col("doc_id"), col("text"), 3)
      .as[(Long, Long)].collect().toMap
    assert(mapSide == agg && mapSide.size == 5)
    // duplicate-heavy generated corpora (16-word vocab ⇒ repeated
    // shingles): the kernel's distinct-set semantics must match
    // dropDuplicates', for several n
    val g = new scala.util.Random(42)
    val gen = (0 until 60).map { i =>
      (i.toLong, Seq.fill(3 + g.nextInt(40))(s"w${g.nextInt(16)}").mkString(" "))
    }
    val genDf = gen.toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3)) {
      val a = DeclarativeRef.fingerprints(
        Shingles.exploded(genDf, col("doc_id"), col("text"), n)
          .dropDuplicates("id", "sh"), "id", "sh")
        .as[(Long, Long)].collect().toMap
      val m = SimHash.fingerprintsMapSide(genDf, col("doc_id"), col("text"), n)
        .as[(Long, Long)].collect().toMap
      assert(m == a, s"n=$n")
    }
    // null text and too-short docs drop, as the exploded form dropped them
    val withNull = Seq((1L, "a b c d"), (2L, null), (3L, "x")).toDF("doc_id", "text")
    val ids = SimHash.fingerprintsMapSide(withNull, col("doc_id"), col("text"), 3)
      .select("id").as[Long].collect().toSet
    assert(ids == Set(1L))
    // capacity refusal at the SAME bound as the narrow aggregate form
    val past = Seq((7L, (0 to SimHash.MaxNarrowLaneShingles.toInt)
      .map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val e = intercept[Throwable] {
      SimHash.fingerprintsMapSide(past, col("doc_id"), col("text"), 1).collect()
    }
    assert(msgChain(e).contains("distinct shingles") &&
      msgChain(e).contains("wideLanes"), msgChain(e))
    // exactly AT the bound: accepted, and equal to the aggregate form
    val at = Seq((7L, (1 to SimHash.MaxNarrowLaneShingles.toInt)
      .map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val atMap = SimHash.fingerprintsMapSide(at, col("doc_id"), col("text"), 1)
      .as[(Long, Long)].head()._2
    val atAgg = DeclarativeRef.fingerprints(
      Shingles.exploded(at, col("doc_id"), col("text"), 1)
        .dropDuplicates("id", "sh"), "id", "sh")
      .as[(Long, Long)].head()._2
    assert(atMap == atAgg)
    // the wide configuration accepts the over-bound doc, like the
    // wide-lane aggregate path
    assert(SimHash.fingerprintsMapSide(past, col("doc_id"), col("text"), 1,
      wideLanes = true).count() == 1)
  }

  test("map-side shingle sets / minhash signatures equal the aggregate forms") {
    // duplicate-heavy generated corpus (16-word vocab ⇒ repeated
    // shingles, some too-short docs) + a null text
    val g = new scala.util.Random(7)
    val gen = (0 until 60).map { i =>
      (i.toLong, Seq.fill(1 + g.nextInt(40))(s"w${g.nextInt(16)}").mkString(" "))
    } :+ (60L, null.asInstanceOf[String])
    val genDf = gen.toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3)) {
      val ex = Shingles.exploded(genDf, col("doc_id"), col("text"), n)
      val aggSets = Shingles.hashSets(ex).as[(Long, Seq[Long])].collect().toMap
      val mapSets = Shingles.hashSetsMapSide(genDf, col("doc_id"), col("text"), n)
        .as[(Long, Seq[Long])].collect().toMap
      assert(mapSets == aggSets, s"n=$n")
      val aggSig = DeclarativeRef.signatureAgg(ex, "id", "sh", 8)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      val mapSig = MinHash.signaturesMapSide(genDf, col("doc_id"), col("text"), n, 8)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      assert(mapSig == aggSig, s"n=$n")
    }
    // the Jaccard set table (kernel vs its sub-barrier aggregate
    // form), and the per-doc distinct shingle rows
    for (n <- Seq(1, 3)) {
      assert(Jaccard.sortedSets(genDf, col("doc_id"), col("text"), n)
        .as[(Long, Seq[Long], Int)].collect().toSet ==
        Jaccard.sortedSetsDeclarative(genDf, col("doc_id"), col("text"), n)
          .as[(Long, Seq[Long], Int)].collect().toSet, s"n=$n")
      assert(Shingles.explodedDistinct(genDf, col("doc_id"), col("text"), n)
        .as[(Long, String)].collect().sorted.toSeq ==
        DeclarativeRef.explodedDistinct(genDf, col("doc_id"), col("text"), n)
          .as[(Long, String)].collect().sorted.toSeq, s"n=$n")
    }
    // end-to-end: the kernel operators return the pair sets and
    // scores of the declarative references — on the generated corpus
    // plus planted near-dups (one word appended to ten of its docs)
    // and the fixture corpus, so the pair sets are not empty
    val planted = gen.take(10).map { case (i, t) => (i + 200, t + " extra") }
    val pairDf = genDf.union((planted ++ corpus.as[(Long, String)].collect()
      .map { case (i, t) => (i + 100, t) }).toDF("doc_id", "text"))
    def pairsM(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val mOn = pairsM(MinHash.nearDupPairs(pairDf, col("doc_id"), col("text")))
    val jOn = pairsM(Jaccard.nearDupPairs(pairDf, col("doc_id"), col("text"), 3, 0.5))
    assert(mOn == pairsM(DeclarativeRef.minHashPairs(pairDf, col("doc_id"), col("text"))))
    assert(jOn == pairsM(DeclarativeRef.jaccardPairs(pairDf, col("doc_id"), col("text"), 3, 0.5)))
    assert(mOn.nonEmpty && mOn.subsetOf(jOn))
    // Incremental.signatures: bands and sets identical to the
    // aggregate forms (including the empty-set rows for short/null docs)
    val (bOn, sOn) = graft.operators.Incremental.signatures(
      genDf, col("doc_id"), col("text"))
    val setsOn = sOn.as[(Long, Seq[Long])].collect().toMap
    val (bRef, sRef) = DeclarativeRef.incrementalSignatures(
      genDf, col("doc_id"), col("text"))
    assert(bOn.as[(Long, Int, String)].collect().toSet ==
      bRef.as[(Long, Int, String)].collect().toSet)
    assert(setsOn == sRef.as[(Long, Seq[Long])].collect().toMap)
    assert(setsOn.contains(60L) && setsOn(60L).isEmpty) // null text kept, empty set
  }

  test("map-side md5 gram sets: contamination operators equal across the arms") {
    import graft.operators.Contamination
    val g = new scala.util.Random(3)
    val gen = (0 until 60).map { i =>
      (i.toLong, Seq.fill(3 + g.nextInt(30))(s"w${g.nextInt(12)}").mkString(" "))
    } :+ (60L, null.asInstanceOf[String]) :+ (61L, "a b")
    val docs = gen.toDF("doc_id", "text")
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val eval = docs.filter(col("doc_id") % 5 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val bench = (col("doc_id") % 10).cast("string")
    val sgOn = rows(Contamination.sharedGrams(train, eval, col("doc_id"), col("text"), 3))
    assert(sgOn == rows(DeclarativeRef.sharedGrams(train, eval, col("doc_id"), col("text"), 3)))
    assert(rows(Contamination.sharedGramsPrefiltered(train, eval,
      col("doc_id"), col("text"), 3, expectedEvalGrams = 10000L)) == sgOn)
    assert(rows(Contamination.sharedGramsByBenchmark(train, eval,
      col("doc_id"), col("text"), bench, 3)) ==
      rows(DeclarativeRef.sharedGramsByBenchmark(train, eval,
        col("doc_id"), col("text"), bench, 3)))
    // the per-doc gram sets themselves
    assert(docs.select(col("doc_id"),
        explode(graft.plans.TextExpressions.md5GramSet(lower(col("text")), 3)))
      .as[(Long, String)].collect().sorted.toSeq ==
      DeclarativeRef.md5Grams(docs, col("doc_id"), col("text"), 3)
        .as[(Long, String)].collect().sorted.toSeq)
    assert(sgOn.nonEmpty) // the generated corpus genuinely collides
  }

  test("Jaccard inverted-index join computes exact scores") {
    val got = Jaccard.nearDupPairs(corpus, col("doc_id"), col("text"), 3, 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got.keySet == Set((1L, 4L), (2L, 5L)))
    assert(got((2L, 5L)) == 1.0)
    assert(got((1L, 4L)) == math.rint(9.0 / 11.0 * 1e6) / 1e6)
  }

  test("Jaccard two-step (sortedSets → nearDupPairsFromSets) equals the one-call form") {
    // the reuse path a multi-threshold caller takes: one set build,
    // pairs derived from it — must be row-identical to nearDupPairs
    val sets = Jaccard.sortedSets(corpus, col("doc_id"), col("text"), 3)
    val twoStep = Jaccard.nearDupPairsFromSets(sets, 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val oneCall = Jaccard.nearDupPairs(corpus, col("doc_id"), col("text"), 3, 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(twoStep == oneCall && twoStep.nonEmpty)
    // the set table's contract: hs ascending, sz = its length
    val rows = sets.select("hs", "sz").as[(Seq[Long], Int)].collect()
    rows.foreach { case (hs, sz) =>
      assert(hs.size == sz && hs == hs.sorted)
    }
  }

  test("hot-key salting parity: salted pair sets equal unsalted on a boilerplate-skewed corpus") {
    // 60 of 200 docs share a 12-token template — hot band keys for
    // MinHash, hot prefix hashes for Jaccard (the planted pairs stay
    // below the 0.5 threshold: J ≈ 10/30); docs 501/502 are a true
    // near-dup pair so the outputs are non-empty. Salting must return
    // the EXACT same pair sets: every (a, b) meets exactly once — at
    // a's salt — whatever the salts/hotMin setting.
    val tmpl = (0 until 12).map(i => s"boiler$i").mkString(" ")
    val rows = (1 to 200).map { i =>
      val body = (0 until 10).map(j => s"w${i}_$j").mkString(" ")
      (i.toLong, if (i % 3 == 0) tmpl + " " + body else body)
    } ++ Seq(
      (501L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (502L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"))
    val df = rows.toDF("doc_id", "text")
    def pairs(d: DataFrame): Set[(Long, Long, Double)] =
      d.select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet

    val jBase = pairs(Jaccard.nearDupPairs(df, col("doc_id"), col("text"), 3, 0.5, salts = 1))
    assert(jBase.exists(p => p._1 == 501L && p._2 == 502L))
    val sets = Jaccard.sortedSets(df, col("doc_id"), col("text"), 3)
    // hot keys only (the production shape) and everything-hot
    // (hotMin = 0 stresses the exactly-once meeting on cold keys too)
    assert(pairs(Jaccard.nearDupPairsFromSets(sets, 0.5, salts = 8, hotMin = 10)) == jBase)
    assert(pairs(Jaccard.nearDupPairsFromSets(sets, 0.5, salts = 4, hotMin = 0)) == jBase)

    val mBase = pairs(MinHash.nearDupPairs(df, col("doc_id"), col("text"), salts = 1))
    assert(pairs(MinHash.nearDupPairs(df, col("doc_id"), col("text"),
      salts = 8, hotMin = 10)) == mBase)
    assert(pairs(MinHash.nearDupPairs(df, col("doc_id"), col("text"),
      salts = 4, hotMin = 0)) == mBase)
    assert(mBase.nonEmpty)
  }

  test("SimHash hot-key salting parity: salted pair sets equal unsalted on a template-dominated corpus") {
    // Template-DOMINATED docs (12 template tokens + 1 unique) drive
    // near-identical fingerprints, plus 30 docs with IDENTICAL text
    // (hamming 0, so every chunk key of that cluster is hot at
    // hotMin = 10 and both band configurations return non-empty).
    // Salting must return the exact same (doc_a, doc_b, hamming) set
    // on both banding paths: each pair INSTANCE meets exactly once —
    // at a's salt — so the first-agreeing-chunk filter (agree = 1)
    // commutes with salting and the combination path's distinct()
    // sees the same instance multiset.
    val tmpl = (0 until 12).map(i => s"boiler$i").mkString(" ")
    val same = (0 until 14).map(j => s"same$j").mkString(" ")
    val rows = (1 to 200).map { i =>
      if (i % 3 == 0) (i.toLong, s"$tmpl uniq$i")
      else (i.toLong, (0 until 14).map(j => s"w${i}_$j").mkString(" "))
    } ++ (601 to 630).map(i => (i.toLong, same))
    val df = rows.toDF("doc_id", "text")
    def pairs(d: DataFrame): Set[(Long, Long, Long)] =
      d.select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect().toSet

    val base = pairs(SimHash.nearDupPairs(df, col("doc_id"), col("text")))
    assert(base.exists(p => p._1 == 601L && p._2 == 602L && p._3 == 0L))
    assert(pairs(SimHash.nearDupPairs(df, col("doc_id"), col("text"),
      salts = 8, hotMin = 10)) == base)
    assert(pairs(SimHash.nearDupPairs(df, col("doc_id"), col("text"),
      salts = 4, hotMin = 0)) == base)

    val b3 = pairs(SimHash.nearDupPairs(df, col("doc_id"), col("text"),
      maxHamming = 3, agree = 5))
    assert(b3.exists(p => p._1 == 601L && p._2 == 602L))
    assert(pairs(SimHash.nearDupPairs(df, col("doc_id"), col("text"),
      maxHamming = 3, agree = 5, salts = 8, hotMin = 10)) == b3)
    assert(pairs(SimHash.nearDupPairs(df, col("doc_id"), col("text"),
      maxHamming = 3, agree = 5, salts = 4, hotMin = 0)) == b3)
  }

  test("Jaccard size-compat pruning doesn't lose qualifying pairs") {
    // identical 12-token docs (J=1) plus a one-shingle doc sharing nothing
    val df = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f g h i j k l"),
      (3L, "a b c")).toDF("doc_id", "text")
    val got = Jaccard.nearDupPairs(df, col("doc_id"), col("text"), 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }
}
