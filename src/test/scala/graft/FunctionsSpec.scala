package graft

import org.apache.spark.sql.functions._
import graft.functions.{HtmlFunctions, TextFunctions}
import graft.plans.VectorExpressions

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("wordCount matches python split semantics") {
    val df = Seq("a b  c", "  ", "", "one", "x\ty\nz").toDF("t")
    val got = df.select(TextFunctions.wordCount(col("t"))).as[Int].collect().toSeq
    assert(got == Seq(3, 0, 0, 1, 3))
  }

  test("C48 canonicalize collapses URL variants and preserves real distinctions") {
    import graft.functions.UrlFunctions
    def canon(urls: String*): Seq[String] =
      urls.toDF("u").select(UrlFunctions.canonicalize(col("u"))).as[String].collect().toSeq
    // the five rules, each via a variant of the same page
    assert(canon(
      "https://Site.Example.ORG:443/a/b/?utm_source=x&b=2&a=1#frag",
      "HTTPS://site.example.org/a/b?a=1&b=2",
      "https://site.example.org/a/b/?b=2&fbclid=zz&a=1"
    ).distinct == Seq("https://site.example.org/a/b?a=1&b=2"))
    // distinctions that MUST survive: scheme, non-default port, path
    // case, non-tracker params
    assert(canon("http://site.example.org/a").head == "http://site.example.org/a")
    assert(canon("https://site.example.org:8443/a").head == "https://site.example.org:8443/a")
    assert(canon("https://site.example.org/A").head != canon("https://site.example.org/a").head)
    assert(canon("https://s.org/p?x=1").head != canon("https://s.org/p?x=2").head)
    // root and empty paths land on '/'; all-tracker query drops the '?'
    assert(canon("https://s.org", "https://s.org/", "https://s.org/?utm_a=1")
      .distinct == Seq("https://s.org/"))
    // malformed / non-http input is NULL, never an aliasable key
    assert(Seq("notaurl", "ftp://x/y", "").toDF("u")
      .select(UrlFunctions.canonicalize(col("u"))).collect().forall(_.isNullAt(0)))
    // trackerParams = Seq.empty is legal public API (utm_ prefix rule
    // only — previously a plan-build-time crash on reduce of empty)
    val got = Seq("https://s.org/p?utm_source=x&fbclid=z&a=1").toDF("u")
      .select(UrlFunctions.canonicalize(col("u"), trackerParams = Seq.empty))
      .as[String].head()
    assert(got == "https://s.org/p?a=1&fbclid=z", got)
  }

  test("extractTags lowercases and dedups keeping content") {
    val df = Seq("see #Foo and #BAR then #foo again").toDF("t")
    val got = df.select(TextFunctions.extractTags(col("t"))).as[Seq[String]].head()
    assert(got == Seq("foo", "bar"))
  }

  test("extractLinks strips trailing punctuation") {
    val df = Seq("go (https://telegra.ph/p-1.) or https://telegra.ph/x-2").toDF("t")
    val got = df.select(TextFunctions.extractLinks(col("t"))).as[Seq[String]].head()
    assert(got == Seq("https://telegra.ph/p-1", "https://telegra.ph/x-2"))
  }

  test("wordShingles builds consecutive n-grams") {
    val df = Seq("a b c d").toDF("t")
    val got = df.select(TextFunctions.wordShingles(col("t"), 3)).as[Seq[String]].head()
    assert(got == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("t")
      .select(TextFunctions.wordShingles(col("t"), 3)).as[Seq[String]].head()
    assert(short.isEmpty)
  }

  test("stopwordHits counts adjacent stopword tokens correctly") {
    val df = Seq("the the a cat", "a", "athe the!", "").toDF("t")
    val got = df.select(TextFunctions.stopwordHits(col("t"), Seq("the", "a")))
      .as[Int].collect().toSeq
    // "athe" is not a token match; "the!" is not either (token != "the")
    assert(got == Seq(3, 1, 0, 0))
  }

  test("meanWordLength = non-space chars / tokens") {
    val df = Seq("ab cdef", "").toDF("t")
    val got = df.select(TextFunctions.meanWordLength(col("t"))).as[Double].collect().toSeq
    assert(got == Seq(3.0, 0.0))
  }

  test("langId picks argmax language with und fallback") {
    val df = Seq(
      "the cat of the house is that it",
      "el que de la casa y un una",
      "xyzzy plugh").toDF("t")
    val got = df.select(TextFunctions.langId(col("t"))).as[String].collect().toSeq
    assert(got == Seq("en", "es", "und"))
  }

  test("html extraction: h1 precedence, title fallback, meta, time") {
    val page = """<html><head><title>My Post – Telegraph</title>
      |<meta property="article:published_time" content="2024-03-01T08:30:00+00:00">
      |<meta property="twitter:description" content="desc here">
      |</head><body><h1> Real Title </h1></body></html>""".stripMargin
    val noH1 = page.replace("<h1> Real Title </h1>", "")
    val df = Seq(page, noH1).toDF("h")
    val titles = df.select(HtmlFunctions.extractTitle(col("h"))).as[String].collect().toSeq
    assert(titles == Seq("Real Title", "My Post"))
    val desc = df.select(HtmlFunctions.extractMeta(col("h"), "twitter:description"))
      .as[String].head()
    assert(desc == "desc here")
    val ts = df.select(date_format(HtmlFunctions.extractPublishedTime(col("h")),
      "yyyy-MM-dd HH:mm:ss")).as[String].head()
    assert(ts == "2024-03-01 08:30:00")
  }

  test("charShingles builds sliding character n-grams") {
    val df = Seq("abcde", "ab").toDF("t")
    val got = df.select(TextFunctions.charShingles(col("t"), 3)).as[Seq[String]].collect()
    assert(got(0) == Seq("abc", "bcd", "cde"))
    assert(got(1).isEmpty)
  }

  test("fingerprint column variant: bottom-k md5s, '' for short docs") {
    val df = Seq("a b c d e", "x").toDF("t")
    val got = df.select(TextFunctions.fingerprint(col("t"), 3, 2)).as[String].collect()
    assert(got(0).split(",").length == 2)
    assert(got(0).split(",").toSeq == got(0).split(",").toSeq.sorted)
    assert(got(1) == "")
  }

  test("cleanDescription strips the mrakopedia wiki-url prefix") {
    val df = Seq("https://mrakopedia.net/wiki/Some_Page actual description", "plain").toDF("t")
    val got = df.select(HtmlFunctions.cleanDescription(col("t"))).as[String].collect()
    assert(got.toSeq == Seq("actual description", "plain"))
  }

  test("native dot/cosine matches the HOF reference bit-for-bit") {
    val vecs = Seq.tabulate(20)(i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i * 17 + j * 3).toFloat)))
    val df = vecs.toDF("id", "v")
    val (a, b) = (col("a.v"), col("b.v"))
    val both = df.as("a").crossJoin(df.as("b")).select(
      DeclarativeRef.dot(a, b).as("hof_dot"),
      VectorExpressions.dot(a, b).as("native_dot"),
      round(DeclarativeRef.cosine(a, b), 6).as("hof"),
      graft.operators.Similarity.cosine(a, b,
        VectorExpressions.norm(a), VectorExpressions.norm(b)).as("native"))
    val rows = both.collect()
    assert(rows.length == 400)
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(2) == r.getDouble(3))
    }
  }

  test("graft_cosine / graft_dot / graft_sorted_intersect_size usable from SQL after register") {
    graft.plans.GraftExtensions.register(spark)
    val got = spark.sql(
      "SELECT round(graft_cosine(array(1.0d,0.0d), array(1.0d,0.0d)), 6) c," +
        " graft_dot(array(1.0d,2.0d), array(3.0d,4.0d)) d," +
        " graft_sorted_intersect_size(array('a','b','c'), array('b','c','d')) s").head()
    assert(got.getDouble(0) == 1.0)
    assert(got.getDouble(1) == 11.0)
    assert(got.getInt(2) == 2)
  }

  test("graft_text_stats usable from SQL after register; equals the column API") {
    graft.plans.GraftExtensions.register(spark)
    val got = spark.sql(
      "SELECT graft_text_stats('the cat sat, yes the cat!', array('the', 'a')) st," +
        " graft_text_stats('no stopwords here') bare").head()
    val st = got.getStruct(0)
    // column-API twin on the same input pins SQL/column parity
    val want = Seq("the cat sat, yes the cat!").toDF("t")
      .select(graft.plans.TextExpressions.textStats(col("t"), Seq("the", "a")).as("st"))
      .head().getStruct(0)
    assert(st == want)
    assert(st.getInt(2) == 2) // two 'the' stopword hits
    assert(got.getStruct(1).getInt(2) == 0)
    // non-literal stopwords must fail loudly, not misparse
    intercept[Exception] {
      spark.sql("SELECT graft_text_stats('x', array(lower('THE')))").head()
    }
  }
}
