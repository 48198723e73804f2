package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{Jaccard, MinHash}

/** Generated-corpus properties for the near-dup family: the Spark
  * operators are checked against a scala-side EXACT reference
  * (distinct word 3-gram shingle Jaccard, rounded like SURVEY §4.3).
  *
  * - Jaccard.nearDupPairs must equal the reference pair set exactly
  *   (it claims exactness).
  * - MinHash.nearDupPairs must be SOUND (⊆ reference — candidates are
  *   probabilistic, but verification is exact) and find the planted
  *   heavy near-dups (J ≥ 0.9 passes 4 bands of 2 w.p. ~1-1e-5;
  *   deterministic here since hashes are fixed).
  */
class NearDupPropertySpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
    "eta", "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omi", "pi")

  private def corpus(seed: Long): Seq[(Long, String)] = {
    val g = Gen.listOfN(30, Gen.oneOf(vocab))
    val base = (0 until 40).map { i =>
      val words = g.apply(Gen.Parameters.default, Seed(seed + i)).get
      (i.toLong, words.mkString(" "))
    }
    // plant 5 near-dups: copy doc i, change one word
    val planted = (0 until 5).map { i =>
      val src = base(i)._2.split(" ")
      src(7) = vocab((i + 9) % vocab.size)
      (100L + i, src.mkString(" "))
    }
    base ++ planted
  }

  private def shingleSet(text: String): Set[String] = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
  }

  private def refPairs(docs: Seq[(Long, String)], t: Double): Map[(Long, Long), Double] = {
    val sets = docs.map { case (id, s) => id -> shingleSet(s) }.filter(_._2.nonEmpty)
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size
      j = math.rint(inter.toDouble / (sa.size + sb.size - inter) * 1e6) / 1e6
      if j >= t
    } yield (a, b) -> j).toMap
  }

  test("Jaccard.nearDupPairs equals the exact reference on generated corpora") {
    for (seed <- Seq(7L, 1234L)) {
      val docs = corpus(seed)
      val want = refPairs(docs, 0.5)
      val got = Jaccard.nearDupPairs(docs.toDF("doc_id", "text"),
          col("doc_id"), col("text"), 3, 0.5)
        .as[(Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(got == want, s"seed=$seed")
      assert(want.size >= 5, s"planted pairs missing from reference, seed=$seed")
    }
  }

  test("MinHash.nearDupPairs is sound and finds the planted heavy near-dups") {
    for (seed <- Seq(7L, 1234L)) {
      val docs = corpus(seed)
      val want = refPairs(docs, 0.5)
      val got = MinHash.nearDupPairs(docs.toDF("doc_id", "text"),
          col("doc_id"), col("text"))
        .as[(Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      // sound: every returned pair is a true pair with the exact score
      got.foreach { case (k, j) => assert(want.get(k).contains(j), s"seed=$seed pair=$k") }
      // complete on the planted heavy pairs (J >= 0.85)
      val heavy = want.filter(_._2 >= 0.85).keySet
      assert(heavy.subsetOf(got.keySet), s"seed=$seed missing=${heavy -- got.keySet}")
    }
  }

  test("SimHash combination banding is lossless: agree=5 at ham<=3 equals the " +
    "single-chunk pair set filtered to ham<=3") {
    import graft.operators.SimHash
    for (seed <- Seq(7L, 1234L)) {
      // the generated docs' planted 1-word-change near-dups land ~5-9
      // bits apart, so plant VERBATIM copies too — their ham-0 pairs
      // guarantee the radius-3 ball is non-empty
      val base = corpus(seed)
      val docs = (base ++ base.take(3).map { case (i, t) => (200L + i, t) })
        .toDF("doc_id", "text")
      // agree=1 at ham<=7 is the exact reference (its losslessness is
      // pinned by NearDupSpec + the c3 oracle); any pair it finds at
      // hamming <= 3 must also surface through the 5-of-8 bands
      val want = SimHash.nearDupPairs(docs, col("doc_id"), col("text"))
        .filter(col("hamming") <= 3)
        .as[(Long, Long, Long)].collect().toSet
      val got = SimHash.nearDupPairs(docs, col("doc_id"), col("text"),
          n = 3, maxHamming = 3, chunks = 8, agree = 5)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == want, s"seed=$seed")
      assert(want.nonEmpty, s"seed=$seed: corpus has no ham<=3 pairs to test")
    }
  }

  test("SimHash wide lanes equal narrow lanes on generated corpora (and both match a reference)") {
    // the r16 32-bit-lane layout claims bit-identical fingerprints
    // wherever the narrow lanes are in-bound — pinned over generated
    // corpora, with a pure-Scala md5/majority reference as the anchor
    // (so a bug shared by BOTH layouts can't hide behind the parity)
    def refFingerprint(shingles: Set[String]): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val ones = new Array[Int](64)
      shingles.foreach { s =>
        val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        var b = 0
        while (b < 64) {
          if (((Character.digit(hex.charAt(b / 4), 16) >> (b % 4)) & 1) == 1) ones(b) += 1
          b += 1
        }
      }
      (0 until 64).map(i => if (2L * ones(i) > shingles.size) 1L << i else 0L)
        .foldLeft(0L)(_ | _)
    }
    for (seed <- Seq(11L, 4242L)) {
      val docs = corpus(seed)
      val ex = graft.operators.Shingles.exploded(
          docs.toDF("doc_id", "text"), col("doc_id"), col("text"), 3)
        .dropDuplicates("id", "sh")
      val narrow = DeclarativeRef.fingerprints(ex, "id", "sh")
        .as[(Long, Long)].collect().toMap
      val wide = DeclarativeRef.fingerprints(ex, "id", "sh", wideLanes = true)
        .as[(Long, Long)].collect().toMap
      assert(narrow == wide, s"lane layouts disagree at seed $seed")
      val want = docs.map { case (id, s) => id -> shingleSet(s) }
        .filter(_._2.nonEmpty).map { case (id, sh) => id -> refFingerprint(sh) }.toMap
      assert(narrow == want, s"fingerprints disagree with the reference at seed $seed")
    }
  }

  test("SimHash rejects an unsound banding configuration") {
    val docs = corpus(7L).toDF("doc_id", "text")
    // maxHamming=4 > chunks-agree=3 could miss pairs — must refuse
    intercept[IllegalArgumentException] {
      graft.operators.SimHash.nearDupPairs(docs, col("doc_id"), col("text"),
        n = 3, maxHamming = 4, chunks = 8, agree = 5)
    }
  }
}
