package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.TextFunctions
import graft.plans.{ArrayExpressions, VectorExpressions}

/** Property tests: scalacheck generators drive batches of inputs
  * through ONE Spark job per property, asserting algebraic laws the
  * operators must keep (idempotence, agreement with scala-side
  * reference computations). Deterministic seed. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val messyText: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar,
    2 -> Gen.oneOf(' ', ' ', '\t', '\n'),
    1 -> Gen.oneOf('.', ',', '!', '@', '#', '+', '-', '\u0001', '\u007f'),
    1 -> Gen.oneOf("the", "a", "и", "den").flatMap(w => Gen.const(s" $w ")))
  ).map(_.mkString)

  test("normalize is idempotent") {
    val df = samples(messyText, 200).toDF("t")
    val bad = df.select(TextFunctions.normalize(col("t")).as("n1"))
      .select(col("n1"), TextFunctions.normalize(col("n1")).as("n2"))
      .filter(col("n1") =!= col("n2"))
    assert(bad.count() == 0)
  }

  test("scrub is idempotent and leaves no raw emails behind") {
    val withPii = samples(messyText, 100).zipWithIndex.map { case (t, i) =>
      s"$t u$i@ex.io https://x.io/$i +1-202-555-${1000 + i} $t"
    }
    val df = withPii.toDF("t")
    val s1 = df.select(TextFunctions.scrub(col("t")).as("s1"))
    val bad = s1.select(col("s1"), TextFunctions.scrub(col("s1")).as("s2"))
      .filter(col("s1") =!= col("s2") || col("s1").rlike(TextFunctions.EmailPattern))
    assert(bad.count() == 0)
  }

  test("PiiScrub kernel equals the chained-regex form on generated PII text") {
    import graft.operators.Quality
    // fragments chosen to hit every matcher edge: valid/invalid
    // emails (multi-dot domains, dash tails, missing tails, @@),
    // http/https urls (incl. schemes that must NOT match), phones
    // with/without '+', dash runs, too-short digit runs, unicode,
    // and adjacency (url swallowing a scrubbed token, email touching
    // a url, digits touching letters)
    val frag: Gen[String] = Gen.oneOf(
      "a.b-c%d+e@mail.sub.example.co", "x@y.zz", "x@y.z", "@nolocal.com",
      "noat.example.com", "a@@b.cc", "a@b.cc@d.ee", "a@b.c-c.dd-",
      "tail@dom.abc-def", "dot@end.", "..@..cc", "x@-.ab",
      "http://plain.example/path?q=1", "https://secure.io/#frag",
      "httpss://no.match", "ftp://no.match", "http:// space", "http://",
      "HTTPS://upper.no", "xhttp://still.matches.after.x",
      "+1-202-555-0100", "12345678", "1234567", "123-456", "1-2-3-4-5-6",
      "123456789-", "-123456789", "+12345678", "++12345678", "+-12345678",
      "999999999999999999999999", "12-34-56-78x", "словоžщ日本語😀",
      "a@b.cc http://x.io/{}|\\^ +1234567890", "<EMAIL>", "<URL>7890123",
      " ", "\t", "\n", "", "word")
    val doc: Gen[String] = Gen.listOf(frag).map(_.mkString(
      Gen.oneOf("", " ", "", "-", ".", "@").apply(Gen.Parameters.default,
        Seed(7L)).getOrElse(" ")))
    val docs = (samples(doc, 300) ++ samples(messyText, 100)).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "scrubbed", "n_emails", "n_urls", "n_phones")
        .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val kernel = rows(Quality.scrubbed(docs, col("t")))
    val decl = rows(DeclarativeRef.scrubbed(docs, col("t")))
    assert(kernel == decl,
      kernel.zip(decl).filter { case (a, b) => a != b }.take(5).mkString("\n"))
  }

  test("PiiScrub kernel survives dense random PII-alphabet fuzzing") {
    import graft.operators.Quality
    // every byte the three matchers branch on, densely packed so
    // overlaps and truncated patterns occur constantly
    val alpha = "@.-+0123456789abchttps:/ <EMAIL>_%ZZ\t\nф日"
    val rnd = new scala.util.Random(12345)
    val docs = (0 until 5000).map { i =>
      (i.toLong, (0 until rnd.nextInt(120))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    }.toDF("id", "t")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "scrubbed", "n_emails", "n_urls", "n_phones")
        .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val kernel = rows(Quality.scrubbed(docs, col("t")))
    val decl = rows(DeclarativeRef.scrubbed(docs, col("t")))
    assert(kernel == decl,
      kernel.zip(decl).filter { case (a, b) => a != b }.take(5).mkString("\n"))
  }

  test("LM kernel equals declarative scoring on generated unicode text") {
    import graft.operators.LangModel
    // byte-length diversity on purpose: ascii (1), cyrillic/greek (2),
    // CJK (3), emoji/supplementary (4 — surrogate pairs in the JVM
    // string), plus whitespace and empty/short strings
    val uniText: Gen[String] = Gen.listOf(Gen.frequency(
      5 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf("ж", "λ", "ü", "ß").map(identity[String]),
      2 -> Gen.oneOf("日", "本", "語", "文").map(identity[String]),
      1 -> Gen.oneOf("😀", "🚀", "𝕏").map(identity[String]),
      2 -> Gen.const(" "))
    ).map(_.mkString)
    val docs = samples(uniText, 150).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // train on the even ids only: odd docs exercise the unk floor
    val model = LangModel.train(docs.filter(col("doc_id") % 2 === 0), col("text"))
    def collectScores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    val kernel = collectScores(LangModel.score(docs, col("doc_id"), col("text"), model))
    val decl = collectScores(
      DeclarativeRef.langModelScore(docs, col("doc_id"), col("text"), model))
    assert(kernel == decl,
      kernel.toSeq.sorted.zip(decl.toSeq.sorted)
        .filter { case (a, b) => a != b }.take(5).mkString("; "))
  }

  test("NB kernel equals declarative scoring on generated unicode text") {
    import graft.operators.Classifier
    val tok: Gen[String] = Gen.frequency(
      4 -> Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString),
      2 -> Gen.oneOf("жук", "λόγος", "日本語", "naïve", "😀x"),
      1 -> Gen.const("")) // empty pick = consecutive whitespace
    val uniDoc: Gen[String] = Gen.listOf(tok).map(_.mkString(" "))
    val docs = samples(uniDoc, 120).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val model = Classifier.train(
      docs.filter(col("doc_id") % 3 === 0), docs.filter(col("doc_id") % 3 === 1),
      col("doc_id"), col("text"))
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    val kernel = scores(Classifier.score(docs, col("doc_id"), col("text"), model))
    val decl = scores(
      DeclarativeRef.classifierScore(docs, col("doc_id"), col("text"), model))
    assert(kernel == decl,
      kernel.toSeq.sorted.zip(decl.toSeq.sorted)
        .filter { case (a, b) => a != b }.take(5).mkString("; "))
  }

  test("DSIR kernel equals declarative scoring on generated unicode text") {
    import graft.operators.Dsir
    val tok: Gen[String] = Gen.frequency(
      4 -> Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString),
      2 -> Gen.oneOf("жук", "λόγος", "日本語", "naïve", "😀x"),
      1 -> Gen.const("")) // empty pick = consecutive whitespace
    val uniDoc: Gen[String] = Gen.listOf(tok).map(_.mkString(" "))
    val docs = samples(uniDoc, 120).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val model = Dsir.train(
      docs.filter(col("doc_id") % 3 === 0), docs, col("doc_id"), col("text"))
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    val kernel = scores(Dsir.score(docs, col("doc_id"), col("text"), model))
    val decl = scores(DeclarativeRef.dsirScore(docs, col("doc_id"), col("text"), model))
    assert(kernel == decl,
      kernel.toSeq.sorted.zip(decl.toSeq.sorted)
        .filter { case (a, b) => a != b }.take(5).mkString("; "))
  }

  test("ReAgg.cube equals native cube on generated frames (non-null keys)") {
    import graft.operators.ReAgg
    val row = for {
      k1 <- Gen.oneOf("a", "b", "c", "d")
      k2 <- Gen.oneOf("x", "y", "z")
      v <- Gen.chooseNum(-10000L, 10000L)
    } yield (k1, k2, v)
    // several generated frames, one comparison each
    for (i <- 0 until 5) {
      val rows = (0 until 60).flatMap(j =>
        row.apply(Gen.Parameters.default, Seed(1000L * i + j)))
      val df = rows.toDF("k1", "k2", "v")
      def canon(frame: org.apache.spark.sql.DataFrame) =
        frame.select(coalesce(col("k1"), lit("∅")), coalesce(col("k2"), lit("∅")),
            col("s"), col("n"), col("mn"), col("mx"))
          .as[(String, String, Long, Long, Long, Long)].collect().toSet
      val native = df.cube(col("k1"), col("k2"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"),
          min(col("v")).as("mn"), max(col("v")).as("mx"))
      val re = ReAgg.cube(df, Seq("k1", "k2"), Seq(
        ReAgg.sumOf("s", col("v")), ReAgg.countAll("n"),
        ReAgg.minOf("mn", col("v")), ReAgg.maxOf("mx", col("v"))))
      assert(canon(re) == canon(native), s"frame $i")
    }
  }

  test("TextStats native pass == the regex formulas on messy text") {
    val sw = TextFunctions.LangStopwords.toMap.apply("en")
    val df = (samples(messyText, 300) ++ Seq("", " ", "the the", "THE The the",
      "и the 的 mixed", "tab\tthe\tend", null.asInstanceOf[String])).toDF("t")
    val st = graft.plans.TextExpressions.textStats(col("t"), sw)
    val bad = df.select(
        st.getField("wc").as("n_wc"), TextFunctions.wordCount(col("t")).as("r_wc"),
        st.getField("punct").as("n_p"),
        regexp_count(col("t"), lit("""[^a-zA-Z0-9\s]""")).as("r_p"),
        st.getField("stop").as("n_s"),
        TextFunctions.stopwordHits(lower(col("t")), sw).as("r_s"),
        st.getField("nonws").as("n_n"),
        length(regexp_replace(col("t"), "\\s+", "")).as("r_n"))
      .filter(
        // null input: native struct is null (all getFields null), regex
        // wordCount coalesces to 0 via its own guard — compare non-null rows
        col("n_wc").isNotNull && (
          col("n_wc") =!= col("r_wc") || col("n_p") =!= col("r_p") ||
          col("n_s") =!= col("r_s") || col("n_n") =!= col("r_n")))
    assert(bad.count() == 0, bad.collect().take(3).mkString("\n"))
  }

  test("wordCount equals the scala-side python-split reference") {
    val xs = samples(messyText, 200)
    val want = xs.map(s => s.split("\\s+").count(_.nonEmpty))
    val got = xs.toDF("t").select(TextFunctions.wordCount(col("t")))
      .as[Int].collect().toSeq
    assert(got == want)
  }

  test("native dot equals a scala-side left fold") {
    val vg = Gen.listOfN(16, Gen.chooseNum(-5.0, 5.0))
    val pairs = samples(Gen.zip(vg, vg), 150)
      .map { case (a, b) => (a.toArray, b.toArray) }
    val want = pairs.map { case (a, b) =>
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y } }
    val got = pairs.toDF("a", "b")
      .select(VectorExpressions.dot(col("a"), col("b"))).as[Double].collect().toSeq
    assert(got == want)
  }

  test("sortedIntersectSize equals set intersection size") {
    val setG = Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h"))
      .map(_.distinct.sorted)
    val pairs = samples(Gen.zip(setG, setG), 200)
    val want = pairs.map { case (a, b) => a.toSet.intersect(b.toSet).size }
    val got = pairs.toDF("a", "b")
      .select(ArrayExpressions.sortedIntersectSize(col("a"), col("b")))
      .as[Int].collect().toSeq
    assert(got == want)
  }

  test("Indexed.prunedRead ≡ scan+filter under adversarial keys and random layouts") {
    // E17 parity as a property: hostile string keys (supplementary
    // chars above U+FFFF, U+E000-U+FFFF, empties, shared prefixes,
    // duplicates) written through BOTH write paths (write() with a
    // range shuffle, writeSmall() single- and multi-file), probed
    // with present + absent keys — the probe must return exactly the
    // scan+filter rows every time. Exercises the UTF-8 manifest
    // ordering, the chunked pushdown at the default In threshold,
    // and the bloom's no-false-negative contract.
    import graft.sources.Indexed
    val keyG: Gen[String] = Gen.frequency(
      5 -> Gen.listOfN(6, Gen.alphaNumChar).map(_.mkString),
      2 -> Gen.listOfN(3, Gen.oneOf("�", "", "😀", "¬", "ß"))
        .map(_.mkString("k", "", "")),
      1 -> Gen.const(""),
      1 -> Gen.listOfN(2, Gen.alphaChar).map("pfx-" + _.mkString))
    for (trial <- 0 until 3) {
      // small pages + a few thousand rows keep the probe on the right
      // side of the cost gate (est = alive × pageRows per dir)
      val keys = samples(keyG, 6000).distinct
      val rows = keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }
      val root = java.nio.file.Files.createTempDirectory(s"graft-idx-prop$trial").toString
      val (d0, d1) = rows.splitAt(rows.length / 2)
      val df0 = d0.toDF("bk", "payload"); val df1 = d1.toDF("bk", "payload")
      if (trial % 2 == 0) {
        Indexed.write(df0.coalesce(2), s"$root/batch=0", "bk", 3, pageRows = 8)
        Indexed.writeSmall(df1, s"$root/batch=1", "bk", pageRows = 8,
          nRows = d1.length.toLong, fileRows = math.max(1, d1.length / 4))
      } else {
        Indexed.writeSmall(df0, s"$root/batch=0", "bk", pageRows = 8)
        Indexed.write(df1.coalesce(1), s"$root/batch=1", "bk", 0, pageRows = 8)
      }
      val present = samples(Gen.oneOf(keys), 60).distinct
      val absent = (0 until 40).map(i => s"�missing-$trial-$i")
      val probe: Seq[Any] = present ++ absent
      val got = Indexed.prunedRead(spark, root, "bk", probe)
      assert(got.isDefined, s"trial $trial must take the pruned path")
      val want = spark.read.parquet(root)
        .filter(col("bk").isInCollection(probe))
        .select("bk", "payload").as[(String, Long)].collect().toSet
      val gotSet = got.get.select("bk", "payload").as[(String, Long)].collect().toSet
      assert(gotSet == want,
        s"trial $trial: missing=${(want -- gotSet).take(5)} extra=${(gotSet -- want).take(5)}")
      assert(want.map(_._1) == present.filter(keys.contains).toSet,
        s"trial $trial fixture: every present key must match")
    }
  }

  test("sortedIntersectSize on long arrays equals set intersection size") {
    // the near-dup verifiers pass sorted xxhash64 sets — include
    // negative longs (xxhash64 spans the full range) and both the
    // interpreted and codegen paths via the plain select
    val setG = Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue)
      .flatMap(x => Gen.oneOf(x, x % 16))) // force overlap density
      .map(_.distinct.sorted)
    val pairs = samples(Gen.zip(setG, setG), 200)
    val want = pairs.map { case (a, b) => a.toSet.intersect(b.toSet).size }
    val got = pairs.toDF("a", "b")
      .select(ArrayExpressions.sortedIntersectSize(col("a"), col("b")))
      .as[Int].collect().toSeq
    assert(got == want)
  }
}
