package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import KernelBytes.{isWs, md5Hex, md5PerThread, round6, round6Fixed, toFixed, tokenBounds}

/** Native character n-gram extraction (SURVEY E2).
  *
  * The LM quality scorer (C28) explodes every document into its
  * character trigrams. Doing that with per-position `substr` is
  * QUADRATIC per document on UTF-8 strings — each codepoint-indexed
  * substring scans from the start of the string, so a 2 kB document
  * costs ~4M byte reads (measured: the substr form was ~3.3 s of the
  * c28 query at sf0.1). This expression walks the bytes ONCE,
  * records codepoint offsets, and slices each n-gram directly —
  * O(len) per document, allocation limited to the output grams.
  *
  * Semantics match `substr(t, i, n)` per CODEPOINT (the SQL/DuckDB
  * definition), so the C28 oracle is unchanged; parity with the
  * HOF+substr form is spec-pinned (TextNativeSpec).
  */
case class CharNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "n >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_char_ngrams"

  override def nullSafeEval(input: Any): Any =
    CharNgrams.slice(input.asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.CharNgrams.slice($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): CharNgrams =
    copy(child = newChild)
}

object CharNgrams {

  /** One linear pass: codepoint start offsets, then O(1) slices.
    * Called from generated code — must stay static-shaped. */
  def slice(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes // may copy once per document
    val len = bytes.length
    // offsets of each codepoint start, plus the terminal offset
    val offs = new Array[Int](s.numChars() + 1)
    var i = 0
    var c = 0
    while (i < len) {
      offs(c) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      c += 1
    }
    offs(c) = len
    val count = math.max(0, c - n + 1)
    val out = new Array[AnyRef](count)
    var g = 0
    while (g < count) {
      out(g) = UTF8String.fromBytes(bytes, offs(g), offs(g + n) - offs(g))
      g += 1
    }
    new GenericArrayData(out)
  }
}

/** Native word n-gram (shingle) extraction — the token-level sibling
  * of `CharNgrams`, feeding the whole near-dup family through
  * `Shingles.exploded` (C2-C4, C11, C14, C19/C29, C32, C34, C35,
  * C37).
  *
  * The HOF form (`split` → `filter` → `transform(sequence, i =>
  * array_join(slice(toks, i, n), ' '))`) is interpreted per SHINGLE
  * and allocates a token-array slice plus a join buffer for each —
  * O(tokens × n) with interpreter constants on the hottest path in
  * the engine. This expression walks the bytes ONCE, records token
  * boundaries, and emits each n-gram as a single byte copy — O(len)
  * per document, no interpreter in the loop.
  *
  * Semantics are EXACTLY `filter(split(text, "\\s+"), _ != "")`
  * n-grams joined with one space (python str.split: Java's ASCII \s
  * charset — space, \t, \n, \x0B, \f, \r — runs collapse, leading
  * runs drop, so multi-space separators never leak into the gram).
  * Parity with the HOF form is property-pinned (TextNativeSpec).
  */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "n >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_ngrams"

  override def nullSafeEval(input: Any): Any =
    WordNgrams.slice(input.asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.WordNgrams.slice($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

object WordNgrams {

  /** One linear pass: token byte ranges, then one copy per gram.
    * Called from generated code — must stay static-shaped. */
  def slice(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    // token t spans bytes [b(2t + 1), b(2t + 2)) — KernelBytes.tokenBounds
    val b = tokenBounds(bytes)
    val count = math.max(0, b(0) - n + 1)
    val out = new Array[AnyRef](count)
    var g = 0
    while (g < count) {
      // gram g = tokens g..g+n-1 joined by single spaces
      var size = n - 1
      var t = g
      while (t < g + n) { size += b(2 * t + 2) - b(2 * t + 1); t += 1 }
      val buf = new Array[Byte](size)
      var pos = 0
      t = g
      while (t < g + n) {
        val tl = b(2 * t + 2) - b(2 * t + 1)
        System.arraycopy(bytes, b(2 * t + 1), buf, pos, tl)
        pos += tl
        if (t < g + n - 1) { buf(pos) = ' '; pos += 1 }
        t += 1
      }
      out(g) = UTF8String.fromBytes(buf)
      g += 1
    }
    new GenericArrayData(out)
  }
}

/** Single-pass text statistics for the quality scorer (C9/D7): one
  * byte walk computes what the regex formulation needs FIVE separate
  * passes for (token count, non-alnum codepoint count, stopword
  * token hits, non-whitespace codepoint count — plus regexp_replace
  * materializing a stripped copy of every document for the mean
  * word length). Semantics are EXACTLY the regex forms' (whitespace
  * = Java \s ASCII charset; "punct" = codepoints outside
  * [a-zA-Z0-9\s], so every non-ASCII codepoint counts, like the
  * regex class; stopword hits = tokens whose lowercase equals a
  * stopword — the `(?:^|\s)(?:…)(?=\s|$)` counting regex in token
  * form). Parity is property-pinned (FunctionsSpec) and the C9
  * oracle hash seals it end-to-end.
  */
case class TextStats(child: Expression, stopwords: Seq[String]) extends UnaryExpression {

  override def dataType: DataType = TextStats.schema
  override def prettyName: String = "graft_text_stats"

  override def nullSafeEval(input: Any): Any =
    TextStats.compute(input.asInstanceOf[UTF8String], TextStats.lowered(stopwords))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopwords", TextStats.lowered(stopwords),
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, c => s"graft.plans.TextStats.compute($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
}

object TextStats {

  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

  val schema: StructType = StructType(Seq(
    StructField("wc", IntegerType, nullable = false),
    StructField("punct", IntegerType, nullable = false),
    StructField("stop", IntegerType, nullable = false),
    StructField("nonws", IntegerType, nullable = false)))

  private[plans] def lowered(stopwords: Seq[String]): Array[UTF8String] =
    stopwords.map(w => UTF8String.fromString(w).toLowerCase).toArray

  private def isAlnum(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')

  /** One pass. Called from generated code — static-shaped. */
  def compute(s: UTF8String, stopwords: Array[UTF8String]): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = s.getBytes
    val len = bytes.length
    var wc = 0
    var punct = 0
    var nonws = 0
    var stop = 0
    var i = 0
    var tokStart = -1
    def endToken(end: Int): Unit = if (tokStart >= 0) {
      wc += 1
      // lowercase-token-equals-stopword == the counting regex over
      // lower(text): case mappings never produce ASCII whitespace,
      // so token boundaries commute with lowercasing
      val tok = UTF8String.fromBytes(bytes, tokStart, end - tokStart).toLowerCase
      var j = 0
      var hit = false
      while (j < stopwords.length && !hit) {
        if (stopwords(j).equals(tok)) hit = true
        j += 1
      }
      if (hit) stop += 1
      tokStart = -1
    }
    while (i < len) {
      val b = bytes(i)
      if (b >= 0 && isWs(b)) {
        endToken(i)
        i += 1
      } else {
        if (tokStart < 0) tokStart = i
        nonws += 1
        if (!(b >= 0 && isAlnum(b))) punct += 1
        i += (if (b >= 0) 1 else UTF8String.numBytesForFirstByte(b))
      }
    }
    endToken(len)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](wc, punct, stop, nonws))
  }
}

/** A frozen text model in the form its fused per-document kernel
  * reads (C28 LM, C46 DSIR, C52 NB classifier): one plan constant
  * that names the kernel's result struct — a bigint count and a
  * double score, both non-null — and its `prettyName`, and scores
  * one document's bytes in one linear pass. Each model replaces the
  * declarative explode → broadcast-join(model table) → per-doc
  * decimal sum (the test-scope `DeclarativeRef` forms, parity
  * spec-pinned) by a long sum of scale-8 fixed-point weights: the
  * models round every weight to 8 decimals, so the long sum IS the
  * decimal(20,8) sum, with no summation-order sensitivity at all.
  * Scores are generated code's `model.score(text)` (`ModelScore`);
  * everything a model varies by is data on the model object, so all
  * models of a kind share one generated class. */
abstract class FrozenTextModel(val prettyName: String, countField: String, scoreField: String)
    extends Serializable {
  def schema: StructType = StructType(Seq(
    StructField(countField, LongType, nullable = false),
    StructField(scoreField, DoubleType, nullable = false)))

  /** (count, score) of one document. Called from generated code. */
  def score(s: UTF8String): InternalRow

  protected def row(count: Long, score: Double): InternalRow =
    new GenericInternalRow(Array[Any](count, score))
}

/** The (count, score) struct `model.schema` of each document `child`:
  * the one scoring expression of the frozen text models, printed as
  * the model's `prettyName`. The model ships with the task as one
  * reference object, typed by its own class, so the call is
  * monomorphic and two models of a kind generate identical source. */
case class ModelScore(child: Expression, model: FrozenTextModel) extends UnaryExpression {
  override def dataType: DataType = model.schema
  override def prettyName: String = model.prettyName
  override def nullSafeEval(input: Any): Any = model.score(input.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("model", model, model.getClass.getName)
    defineCodeGen(ctx, ev, c => s"$m.score($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): ModelScore =
    copy(child = newChild)
}

/** Plan-constant map from a UTF-8 byte range to its scale-8
  * fixed-point weight — the lookup of the byte-keyed models (C28
  * trigrams, C52 tokens). Keys are arbitrary-length, so the map keeps
  * every key's bytes in ONE concatenated blob (an offset per entry)
  * and probes open-addressed slots with an exact byte compare: a hit
  * is bit-exact equality on the key's UTF-8 bytes. `lookup` returns
  * `Missing` for a key the table lacks; each model says what that
  * means. Plain arrays serialize compactly with the task binary;
  * a lookup is hash + linear probe, zero allocation. */
final class ByteKeyWeights(entries: Array[(String, Double)]) extends Serializable {
  // the models are charset- or vocabulary-bounded by construction;
  // refuse anything that could only be a corpus-sized table wired in
  // by mistake — this map is a task-serialized plan constant
  require(entries.length < (1 << 27),
    s"ByteKeyWeights: ${entries.length} entries — not a model-bounded table")
  private val n = entries.length
  private val offs = new Array[Int](n + 1)
  private val blob: Array[Byte] = {
    val bs = entries.map(e => UTF8String.fromString(e._1).getBytes)
    var i = 0
    while (i < n) { offs(i + 1) = offs(i) + bs(i).length; i += 1 }
    val b = new Array[Byte](offs(n))
    i = 0
    while (i < n) { System.arraycopy(bs(i), 0, b, offs(i), bs(i).length); i += 1 }
    b
  }
  private val vals: Array[Long] =
    entries.map { e =>
      val f = toFixed(e._2)
      // `Missing` doubles as the absent-key sentinel: a weight that
      // fixes to it (~-9.2e10 in scale-8) would silently read as
      // absent. Unreachable for any realistic log-weight — make that
      // explicit.
      require(f != ByteKeyWeights.Missing,
        s"ByteKeyWeights: weight ${e._2} for key '${e._1}' fixes to " +
          "the absent-key sentinel (Long.MinValue at scale 8) and cannot be represented")
      f
    }
  private val cap: Int = {
    var c = 16
    while (c < n * 2) c <<= 1
    c
  }
  private val mask = cap - 1
  private val slots = new Array[Int](cap) // entry index + 1; 0 = empty
  locally {
    var i = 0
    while (i < n) {
      var s = ByteKeyWeights.hash(blob, offs(i), offs(i + 1)) & mask
      while (slots(s) != 0 &&
        !ByteKeyWeights.eq(blob, offs(slots(s) - 1), offs(slots(s)),
          blob, offs(i), offs(i + 1))) s = (s + 1) & mask
      slots(s) = i + 1 // duplicate keys: last write wins (none in practice)
      i += 1
    }
  }
  /** Fixed weight of bytes[from, to), or `Missing`. */
  def lookup(bytes: Array[Byte], from: Int, to: Int): Long = {
    var s = ByteKeyWeights.hash(bytes, from, to) & mask
    while (slots(s) != 0) {
      val e = slots(s) - 1
      if (ByteKeyWeights.eq(blob, offs(e), offs(e + 1), bytes, from, to))
        return vals(e)
      s = (s + 1) & mask
    }
    ByteKeyWeights.Missing
  }
}

object ByteKeyWeights {
  val Missing: Long = Long.MinValue

  private def hash(b: Array[Byte], from: Int, to: Int): Int = {
    var h = -2128831035 // FNV-1a
    var i = from
    while (i < to) { h = (h ^ b(i)) * 16777619; i += 1 }
    // finalize: spread low-entropy hashes across the table
    h ^= h >>> 16
    h
  }
  private def eq(a: Array[Byte], af: Int, at: Int,
                 b: Array[Byte], bf: Int, bt: Int): Boolean = {
    if (at - af != bt - bf) return false
    var i = 0
    val len = at - af
    while (i < len) { if (a(af + i) != b(bf + i)) return false; i += 1 }
    true
  }
}

/** C28's trigram LM: (n_tris, lm_score) — the average negative
  * log-prob of the document's character trigrams (codepoint windows,
  * `CharNgrams`' semantics), the sum fixed-point and the mean rounded
  * to 6; an absent trigram takes the model's unseen floor, and a
  * document shorter than 3 codepoints scores the floor alone. */
final class CompiledLm(entries: Array[(String, Double)], val unkLogp: Double)
    extends FrozenTextModel("graft_lm_score", "n_tris", "lm_score") {
  private val weights = new ByteKeyWeights(entries)
  private val unkFixed = toFixed(unkLogp)

  def score(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val len = bytes.length
    val offs = new Array[Int](s.numChars() + 1)
    var i = 0
    var c = 0
    while (i < len) {
      offs(c) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      c += 1
    }
    offs(c) = len
    val n = math.max(0, c - 2)
    if (n == 0) return row(0L, round6(-unkLogp))
    var sum = 0L // |logp·1e8| ≲ 4e9/tri → exact past 10^9 tris/doc
    var g = 0
    while (g < n) {
      val w = weights.lookup(bytes, offs(g), offs(g + 3))
      sum += (if (w == ByteKeyWeights.Missing) unkFixed else w)
      g += 1
    }
    val sDouble = java.math.BigDecimal.valueOf(sum, 8).doubleValue()
    row(n.toLong, round6(-sDouble / n))
  }
}

/** C52's Naive Bayes classifier: (n_hits, logodds) — the prior plus
  * the weights of the in-vocabulary token occurrences, rounded to 6
  * in decimal. Tokens are WordNgrams' python-style whitespace split,
  * byte for byte; an out-of-vocabulary token contributes nothing and
  * is not a hit, the declarative left-join semantics. The prior is
  * model data like the weights. */
final class CompiledTokenWeights(entries: Array[(String, Double)], prior: Double)
    extends FrozenTextModel("graft_nb_score", "n_hits", "logodds") {
  private val weights = new ByteKeyWeights(entries)
  private val priorFixed = toFixed(prior)

  def score(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val len = bytes.length
    var hits = 0L
    var sum = 0L
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !isWs(bytes(i))) i += 1
        val w = weights.lookup(bytes, start, i)
        if (w != ByteKeyWeights.Missing) { hits += 1; sum += w }
      }
    }
    row(hits, round6Fixed(sum + priorFixed))
  }
}

/** C46's DSIR model: (n_feats, logw) — the sum of λ(bucket) over the
  * document's word unigrams and bigrams with multiplicity, rounded to
  * 6 in decimal, one md5 per feature. A feature's bucket is the first
  * `prefixLen` hex chars of md5(gram), i.e. the digest's first
  * `prefixLen` nibbles as a value, so the model is a dense array of
  * 16^prefixLen fixed-point λ — the layout `BucketCountAgg` trains
  * into — indexed by bucket, each bucket absent from the table holding
  * the unseen-bucket λ (the declarative left-join + coalesce). */
final class CompiledBucketWeights(entries: Array[(String, Double)],
    unkLam: Double, val prefixLen: Int)
    extends FrozenTextModel("graft_dsir_score", "n_feats", "logw") {
  CompiledBucketWeights.requirePrefixLen(prefixLen)
  private val weights: Array[Long] = {
    val w = new Array[Long](1 << (4 * prefixLen))
    java.util.Arrays.fill(w, toFixed(unkLam))
    entries.foreach { case (hex, lam) =>
      require(hex != null && hex.length == prefixLen,
        s"CompiledBucketWeights: bucket '$hex' is not a $prefixLen-char hex prefix")
      w(Integer.parseInt(hex, 16)) = toFixed(lam)
    }
    w
  }

  def score(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val b = tokenBounds(bytes)
    val nFeats = math.max(0, 2 * b(0) - 1) // n unigrams + (n-1) bigrams
    val digest = CompiledBucketWeights.md5.get()
    var sum = 0L // |λ·1e8| is model-bounded per feature; exact far past any doc
    var f = 0
    while (f < nFeats) {
      sum += weights(CompiledBucketWeights.featureBucket(digest, bytes, b, f, prefixLen))
      f += 1
    }
    row(nFeats.toLong, round6Fixed(sum))
  }
}

object CompiledBucketWeights {
  private val md5 = md5PerThread()

  /** A DSIR model's bucket prefix length is 1 to 5 hex chars: past
    * 16^5 ≈ 1M buckets neither the dense model nor a per-partition
    * 16^p-long training count buffer is model-bounded in any useful
    * sense. */
  def requirePrefixLen(prefixLen: Int): Unit =
    require(prefixLen >= 1 && prefixLen <= 5, s"prefixLen must be in [1,5], got $prefixLen")

  /** First `nibbles` hex digits of the digest as a value — exactly
    * `substring(md5(g), 1, nibbles)` parsed base-16. */
  private def bucketOf(digest: Array[Byte], nibbles: Int): Int = {
    var v = 0
    var j = 0
    while (j < nibbles) {
      val b = digest(j >> 1) & 0xff
      v = (v << 4) | (if ((j & 1) == 0) b >>> 4 else b & 0xf)
      j += 1
    }
    v
  }

  /** TRAINING twin of `score`: bump `counts(bucket)` for every
    * hashed feature (unigrams + bigrams, multiplicity kept) of one
    * document — the fused form of C46's per-corpus
    * explode → md5-prefix → groupBy(bucket) count, whose per-partition
    * state is this one fixed B-long array instead of a hash-agg over
    * corpus×features rows. Exact long counts ⇒ the trained model is
    * bit-identical (spec-pinned). Same features as `score`. */
  def countInto(s: UTF8String, prefixLen: Int, counts: Array[Long]): Unit = {
    val bytes = s.getBytes
    val b = tokenBounds(bytes)
    val digest = md5.get()
    var f = 0
    while (f < 2 * b(0) - 1) {
      counts(featureBucket(digest, bytes, b, f, prefixLen)) += 1L
      f += 1
    }
  }

  /** The `prefixLen`-nibble md5 bucket of feature `f` of a document
    * whose tokens are `b` (`tokenBounds` — WordNgrams' split
    * byte-for-byte): unigram f/2 when f is even, the bigram of tokens
    * (f-1)/2 and (f+1)/2 when f is odd. A bigram's digest streams
    * token₁ + ' ' + token₂ — the same bytes WordNgrams.slice copies
    * into its single-space-joined gram. */
  private def featureBucket(digest: java.security.MessageDigest, bytes: Array[Byte],
                            b: Array[Int], f: Int, prefixLen: Int): Int = {
    val t = f >> 1
    digest.update(bytes, b(2 * t + 1), b(2 * t + 2) - b(2 * t + 1))
    if ((f & 1) == 1) {
      digest.update(' '.toByte)
      digest.update(bytes, b(2 * t + 3), b(2 * t + 4) - b(2 * t + 3))
    }
    bucketOf(digest.digest(), prefixLen)
  }
}

/** `struct<scrubbed:string, n_emails:bigint, n_urls:bigint,
  * n_phones:bigint>`: C13's PII redaction in THREE byte walks
  * instead of NINE regex traversals — `Quality.scrubbed` computed
  * the scrubbed text with three chained `regexp_replace` and each
  * count with `regexp_count` over its own rebuild of the partial
  * replace chain. Semantics are EXACTLY the chained-regex form's:
  * each pass replays Java-regex leftmost/greedy/backtracking
  * behavior for its one pattern (the patterns are ASCII-class-only,
  * so byte-level scanning equals Java's char-level matching —
  * multi-byte UTF-8 units are all ≥ 0x80 and fall outside every
  * class), and pass k+1 scans pass k's OUTPUT, exactly like the
  * chained calls. Counts are per-pass match counts, which is what
  * `piiCounts` computes (urls counted on email-scrubbed text,
  * phones on email+url-scrubbed). Parity is spec-pinned against the
  * retained regex form on generated adversarial text; the c13
  * oracle (DuckDB regexp) seals it cross-engine. */
case class PiiScrub(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("scrubbed", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_emails",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_urls",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_phones",
        org.apache.spark.sql.types.LongType, nullable = false)))
  override def prettyName: String = "graft_pii_scrub"
  override def nullSafeEval(input: Any): Any =
    PiiScrub.scrub(input.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.PiiScrub.scrub($c)")
  override protected def withNewChildInternal(newChild: Expression): PiiScrub =
    copy(child = newChild)
}

object PiiScrub {
  private val Email = "<EMAIL>".getBytes("US-ASCII")
  private val Url = "<URL>".getBytes("US-ASCII")
  private val Phone = "<PHONE>".getBytes("US-ASCII")

  private def isAlpha(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')
  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'
  private def isLocal(b: Byte): Boolean = // [A-Za-z0-9._%+-]
    isAlpha(b) || isDigit(b) || b == '.' || b == '_' || b == '%' || b == '+' || b == '-'
  private def isDomain(b: Byte): Boolean = // [A-Za-z0-9.-]
    isAlpha(b) || isDigit(b) || b == '.' || b == '-'
  private def isPh(b: Byte): Boolean = isDigit(b) || b == '-'

  /** Growable output buffer; one per pass, amortized O(len). */
  private final class Buf(hint: Int) {
    var a = new Array[Byte](math.max(16, hint))
    var n = 0
    def add(src: Array[Byte], from: Int, len: Int): Unit = {
      if (n + len > a.length)
        a = java.util.Arrays.copyOf(a, math.max(a.length * 2, n + len))
      System.arraycopy(src, from, a, n, len)
      n += len
    }
    def addAll(src: Array[Byte]): Unit = add(src, 0, src.length)
  }

  /** One replace pass for `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}`.
    * At each '@': the local part is the maximal local-class run
    * ending at it (clamped at the previous match's end — Java
    * resumes there and leftmost-start lands on the run head);
    * the domain+tail replays greedy-then-backtrack: domain+ takes
    * the maximal domain-class run, then the `\.[A-Za-z]{2,}` tail
    * binds at the LARGEST dot position that leaves ≥ 2 alphas —
    * exactly the order Java's backtracking tries. Returns count. */
  private def emailPass(b: Array[Byte], len: Int, out: Buf): Long = {
    var count = 0L
    var emit = 0
    var i = 0
    while (i < len) {
      if (b(i) == '@') {
        var s = i
        while (s > emit && isLocal(b(s - 1))) s -= 1
        var matchEnd = -1
        if (s < i) {
          var m = i + 1
          while (m < len && isDomain(b(m))) m += 1
          var p = m - 1
          while (p > i + 1 && matchEnd < 0) { // p > i+1: domain+ nonempty
            if (b(p) == '.') {
              var q = p + 1
              while (q < m && isAlpha(b(q))) q += 1
              if (q - p - 1 >= 2) matchEnd = q
            }
            p -= 1
          }
        }
        if (matchEnd > 0) {
          out.add(b, emit, s - emit); out.addAll(Email); count += 1
          emit = matchEnd; i = matchEnd
        } else i += 1
      } else i += 1
    }
    out.add(b, emit, len - emit)
    count
  }

  /** One replace pass for `https?://[^\s]+`: literal scan for
    * "http", greedy-optional 's' with the one-step backtrack, "://",
    * then a maximal non-whitespace run (≥ 1 char). */
  private def urlPass(b: Array[Byte], len: Int, out: Buf): Long = {
    var count = 0L
    var emit = 0
    var i = 0
    while (i < len) {
      if (b(i) == 'h' && i + 6 < len &&
          b(i + 1) == 't' && b(i + 2) == 't' && b(i + 3) == 'p') {
        var t = -1
        val j = i + 4
        if (b(j) == 's' && j + 3 < len &&
            b(j + 1) == ':' && b(j + 2) == '/' && b(j + 3) == '/') t = j + 4
        else if (b(j) == ':' && j + 2 < len && b(j + 1) == '/' && b(j + 2) == '/')
          t = j + 3
        if (t > 0 && t < len && !isWs(b(t))) {
          var u = t
          while (u < len && !isWs(b(u))) u += 1
          out.add(b, emit, i - emit); out.addAll(Url); count += 1
          emit = u; i = u
        } else i += 1
      } else i += 1
    }
    out.add(b, emit, len - emit)
    count
  }

  /** One replace pass for `\+?\d[\d-]{6,}\d`: a match starts at a
    * digit (or a '+' directly before one), the inner run is the
    * maximal [\d-] run, and backtracking binds the final \d at the
    * LAST digit that leaves the inner part ≥ 6 chars. On failure
    * the scan advances one byte — Java's exact behavior. */
  private def phonePass(b: Array[Byte], len: Int, out: Buf): Long = {
    var count = 0L
    var emit = 0
    var i = 0
    while (i < len) {
      val plus = b(i) == '+' && i + 1 < len && isDigit(b(i + 1))
      val d0 = if (plus) i + 1 else i
      if (plus || isDigit(b(i))) {
        val j = d0 + 1
        var m = j
        while (m < len && isPh(b(m))) m += 1
        var q = m - 1
        while (q >= j + 6 && !isDigit(b(q))) q -= 1
        if (q >= j + 6) {
          out.add(b, emit, i - emit); out.addAll(Phone); count += 1
          emit = q + 1; i = q + 1
        } else i += 1
      } else i += 1
    }
    out.add(b, emit, len - emit)
    count
  }

  /** Three sequential passes, each over the previous pass's output —
    * the chained-regexp_replace semantics. Called from generated
    * code. */
  def scrub(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val b0 = s.getBytes
    val b1 = new Buf(b0.length + 16)
    val emails = emailPass(b0, b0.length, b1)
    val b2 = new Buf(b1.n + 16)
    val urls = urlPass(b1.a, b1.n, b2)
    val b3 = new Buf(b2.n + 16)
    val phones = phonePass(b2.a, b2.n, b3)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromBytes(java.util.Arrays.copyOf(b3.a, b3.n)),
        emails, urls, phones))
  }
}

/** `struct<top_token_frac:double, top_bigram_frac:double>`: one
  * document's repetition statistics (C14/C44 — fraction of token
  * occurrences taken by the most frequent token, same for word
  * 2-grams) computed in a single map-side pass (optimization round
  * 18): both fractions are per-document functions of the row, but the
  * declarative form paid TWO explode → (id, gram) count → per-id
  * max/sum aggregate chains (four hash aggregates, two exchanges)
  * plus the join tying them back together. Semantics replicated
  * exactly: grams from `WordNgrams.slice` (same tokenizer), counts
  * with multiplicity, frac = round(max/total, 6) with Spark's
  * BigDecimal HALF_UP double rounding; a doc with tokens but no
  * 2-gram reports 0.0 for the bigram frac (the left-join coalesce
  * convention). Parity with the test-scope
  * `DeclarativeRef.repetitionStats` is spec-pinned. Callers reproduce
  * the absent-row convention for token-less docs. */
case class RepetitionStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = RepetitionStats.schema
  override def prettyName: String = "graft_repetition_stats"
  override def nullSafeEval(input: Any): Any =
    RepetitionStats.compute(input.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.RepetitionStats.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

object RepetitionStats {
  val schema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("top_token_frac",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("top_bigram_frac",
        org.apache.spark.sql.types.DoubleType, nullable = false)))

  private def topFrac(grams: ArrayData): Double = {
    val m = grams.numElements()
    if (m == 0) return 0.0
    val counts = new java.util.HashMap[UTF8String, Array[Int]](math.max(16, m * 2))
    var maxC = 0
    var i = 0
    while (i < m) {
      val g = grams.getUTF8String(i)
      var c = counts.get(g)
      if (c == null) { c = new Array[Int](1); counts.put(g, c) }
      c(0) += 1
      if (c(0) > maxC) maxC = c(0)
      i += 1
    }
    // max(count) cast double over the long total — the declarative
    // plan's exact division, then Spark's HALF_UP double round
    round6(maxC.toDouble / m.toDouble)
  }

  /** Called from generated code. */
  def compute(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](topFrac(WordNgrams.slice(s, 1)), topFrac(WordNgrams.slice(s, 2))))
}

/** `map<string,bigint>`: one document's word-unigram term
  * frequencies (with multiplicity, python-whitespace tokens of the
  * input — callers pass `lower(text)`), computed map-side
  * (optimization round 18): C18's tf table is per-document work, but
  * the declarative form exploded every token occurrence through an
  * (id, term) aggregation exchange (the test-scope
  * `DeclarativeRef.tf`). `explode(map)` over this column
  * reproduces the tf rows exactly (order-free consumers). Null
  * input → null; token-less docs → empty map (callers drop or keep
  * per their old convention). */
case class TokenTf(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.MapType(
    StringType, org.apache.spark.sql.types.LongType, valueContainsNull = false)
  override def prettyName: String = "graft_token_tf"
  override def nullSafeEval(input: Any): Any =
    TokenTf.compute(input.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TokenTf.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): TokenTf =
    copy(child = newChild)
}

object TokenTf {
  /** Called from generated code. */
  def compute(s: UTF8String): org.apache.spark.sql.catalyst.util.MapData = {
    val toks = WordNgrams.slice(s, 1)
    val m = toks.numElements()
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Long]](math.max(16, m * 2))
    var i = 0
    while (i < m) {
      val t = toks.getUTF8String(i)
      var c = counts.get(t)
      if (c == null) { c = new Array[Long](1); counts.put(t, c) }
      c(0) += 1L
      i += 1
    }
    val keys = new Array[Any](counts.size)
    val vals = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      keys(j) = e.getKey
      vals(j) = e.getValue()(0)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new GenericArrayData(keys), new GenericArrayData(vals))
  }
}

/** `array<string>`: one document's DISTINCT md5'd word n-grams
  * (lowercase hex, first-occurrence order), computed map-side
  * (optimization round 18) — the fused form of the contamination
  * family's explode → md5 → dropDuplicates(id, h): the per-doc
  * distinct is row-local, and the declarative chain paid an (id, h)
  * exchange + two aggregate passes per corpus, with one md5 per gram
  * OCCURRENCE where this hashes each distinct gram once.
  * Distinctness is on the HASH VALUES (dropDuplicates' rule over h);
  * order is irrelevant to the consumers (joins/aggregations).
  * Parity with the test-scope `DeclarativeRef.md5Grams` is
  * spec-pinned. */
case class Md5GramSet(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_md5_gram_set"
  override def nullSafeEval(input: Any): Any =
    Md5GramSet.compute(input.asInstanceOf[UTF8String], n)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Md5GramSet.compute($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): Md5GramSet =
    copy(child = newChild)
}

object Md5GramSet {
  private val md5 = md5PerThread()

  /** Called from generated code. */
  def compute(s: UTF8String, n: Int): ArrayData = {
    val grams = WordNgrams.slice(s, n)
    val m = grams.numElements()
    val seenGrams = new java.util.HashSet[UTF8String](math.max(16, m * 2))
    // LinkedHashSet: dedup on the HEX VALUE (dropDuplicates' rule —
    // md5-colliding grams dedup to one row) in first-occurrence order
    val out = new java.util.LinkedHashSet[UTF8String](math.max(16, m * 2))
    val digest = md5.get()
    var g = 0
    while (g < m) {
      val sh = grams.getUTF8String(g)
      if (seenGrams.add(sh)) {
        out.add(md5Hex(digest.digest(sh.getBytes)))
      }
      g += 1
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next(); j += 1 }
    new GenericArrayData(arr)
  }
}

/** `string`: one document's detected language — the fused form of
  * C8's join-based detection (optimization round 18): tokens of the
  * input (callers pass `lower(text)`) are looked up in the SAME
  * (word → lang) stopword table `LangId.detect` broadcast-joins,
  * per-language hits counted, winner = max hits with
  * lexicographically-smallest language tie-break (the min-struct
  * argmax), no hits → "und". The per-(doc, lang) hit counts are
  * per-document work; the declarative form paid a token explode, a
  * broadcast join and TWO aggregation exchanges per corpus for them.
  * Parity with that join form (the test-scope `DeclarativeRef.langId`)
  * is spec-pinned. */
case class LangIdScore(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_lang_id"
  override def nullSafeEval(input: Any): Any =
    LangIdScore.compute(input.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.LangIdScore.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): LangIdScore =
    copy(child = newChild)
}

object LangIdScore {
  private val Und = UTF8String.fromString("und")
  // (token → ALL its lang indices — stopword lists overlap: es/fr
  // share "la"/"de"/"que"/"un"/"une", and the join form counts a
  // shared token for EVERY matching language) and the sorted language
  // list, built once from the SAME table the join form uses
  // (TextFunctions.LangStopwords); languages sorted ASC so "first at
  // max count" IS the lexicographic tie-break
  private lazy val (langs: Array[UTF8String], lookup: java.util.HashMap[UTF8String, Array[Int]]) = {
    val table = graft.functions.TextFunctions.LangStopwords
    val ls = table.map(_._1).sorted.toArray
    val idx = ls.zipWithIndex.toMap
    val byWord = scala.collection.mutable.Map.empty[String, List[Int]]
    table.foreach { case (lang, words) =>
      words.foreach(w => byWord(w) = idx(lang) :: byWord.getOrElse(w, Nil))
    }
    val m = new java.util.HashMap[UTF8String, Array[Int]]()
    byWord.foreach { case (w, is) => m.put(UTF8String.fromString(w), is.toArray) }
    (ls.map(UTF8String.fromString), m)
  }

  /** Called from generated code. */
  def compute(s: UTF8String): UTF8String = {
    val toks = WordNgrams.slice(s, 1)
    val m = toks.numElements()
    val hits = new Array[Long](langs.length)
    var i = 0
    while (i < m) {
      val ls = lookup.get(toks.getUTF8String(i))
      if (ls != null) {
        var k = 0
        while (k < ls.length) { hits(ls(k)) += 1L; k += 1 }
      }
      i += 1
    }
    var best = -1
    var bestHits = 0L
    var j = 0
    while (j < hits.length) {
      // strict >: ties keep the earlier (lexicographically smaller) lang
      if (hits(j) > bestHits) { best = j; bestHits = hits(j) }
      j += 1
    }
    if (best < 0) Und else langs(best)
  }
}

/** `struct<n_sh:bigint, sig:bigint>`: one document's 64-bit SimHash
  * fingerprint and its distinct-shingle count, computed in a SINGLE
  * MAP-SIDE pass (optimization round 18) — the fused form of C3/C3b's
  * explode → dropDuplicates(id, sh) → 16-lane-sum aggregate chain.
  * A document's shingles all originate from its own input row, so
  * neither the per-doc distinct set nor the 64 ones-counts ever
  * needed a shuffle; the declarative chain paid TWO hash aggregates
  * and TWO exchanges per corpus for what this computes in place
  * (guide §2.4: remove shuffles outright).
  *
  * Semantics replicated exactly: grams come from the same
  * `WordNgrams.slice` byte-walk the exploded form used; distinctness
  * is binary string equality (dropDuplicates' rule); each distinct
  * gram is md5-hashed once; bit i of the signature is set iff
  * 2·ones(i) > n with ones(i) counting bit (i mod 4) of hex char
  * (i div 4 + 1) — the identical construction, pinned against the
  * test-scope `DeclarativeRef.fingerprints` AND NearDupSpec's
  * pure-Scala reference. Counters are plain JVM ints, so the kernel
  * is exact for ANY feasible document — the 32 767 / 2³¹−1 capacity
  * bounds of the declarative lane layouts are artifacts of packing
  * counters into aggregation longs; the CALLER re-imposes them
  * (SimHash.fingerprintsMapSide keeps the same loud refusal). */
case class SimHashSig(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = SimHashSig.schema
  override def prettyName: String = "graft_simhash_sig"
  override def nullSafeEval(input: Any): Any =
    SimHashSig.compute(input.asInstanceOf[UTF8String], n)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SimHashSig.compute($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)
}

object SimHashSig {
  val schema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_sh",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("sig",
        org.apache.spark.sql.types.LongType, nullable = false)))

  private val md5 = md5PerThread()

  /** Called from generated code. */
  def compute(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val grams = WordNgrams.slice(s, n)
    val m = grams.numElements()
    val seen = new java.util.HashSet[UTF8String](math.max(16, m * 2))
    val digest = md5.get()
    val ones = new Array[Int](64)
    var nd = 0L
    var g = 0
    while (g < m) {
      val sh = grams.getUTF8String(g)
      if (seen.add(sh)) {
        nd += 1L
        val d = digest.digest(sh.getBytes)
        // hex char j (0-based) = nibble j: high nibble of byte j/2
        // when j is even — exactly md5()'s hex rendering order
        var j = 0
        while (j < 16) {
          val by = d(j >> 1) & 0xff
          val v = if ((j & 1) == 0) by >>> 4 else by & 0xf
          val o = j << 2
          ones(o) += v & 1
          ones(o + 1) += (v >> 1) & 1
          ones(o + 2) += (v >> 2) & 1
          ones(o + 3) += (v >> 3) & 1
          j += 1
        }
      }
      g += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) {
      if (2L * ones(i) > nd) sig |= 1L << i
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nd, sig))
  }
}

/** `array<bigint>`: one document's ASC-sorted distinct
  * xxhash64-shingle set, computed in a single map-side pass
  * (optimization round 18) — the fused form of
  * `Shingles.hashSets(Shingles.exploded(…))`, whose
  * explode → collect_set aggregation paid a corpus exchange (and a
  * merge-side set build + sort) for row-local work: a document's
  * shingles never leave its own row. Semantics replicated exactly:
  * grams from the same `WordNgrams.slice` byte-walk, xxhash64 with
  * Spark's seed (42) over the gram's UTF-8 bytes, distinctness on the
  * HASH VALUES (collect_set's rule — two shingles colliding in 64
  * bits dedup to one element, identical to the aggregate form),
  * signed-ascending order (sort_array's). Empty/short/null docs
  * return an empty/null array; the callers reproduce the aggregate
  * form's absent-row/empty-set conventions. Parity with the aggregate
  * form (which still builds Jaccard's sub-barrier-scale sets) is
  * spec-pinned. */
case class HashedShingleSet(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType,
    containsNull = false)
  override def prettyName: String = "graft_hashed_shingle_set"
  override def nullSafeEval(input: Any): Any =
    HashedShingleSet.compute(input.asInstanceOf[UTF8String], n)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HashedShingleSet.compute($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): HashedShingleSet =
    copy(child = newChild)
}

object HashedShingleSet {
  /** Called from generated code. */
  def compute(s: UTF8String, n: Int): ArrayData = {
    val grams = WordNgrams.slice(s, n)
    val m = grams.numElements()
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      val g = grams.getUTF8String(i)
      // Spark's xxhash64(string): XXH64 over the UTF-8 bytes, seed 42
      hs(i) = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(g, org.apache.spark.sql.types.StringType, 42L)
      i += 1
    }
    // sort + in-place dedup: collect_set-on-hash-values semantics in
    // sort_array's signed-ascending order, no boxing
    java.util.Arrays.sort(hs, 0, m)
    var w = 0
    i = 0
    while (i < m) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    new GenericArrayData(if (w == m) hs else java.util.Arrays.copyOf(hs, w))
  }
}

/** `array<string>`: one document's k-minhash signature — k lowercase
  * md5-hex strings, element i = min over the doc's shingles of
  * md5("i:" + shingle) — computed in a single map-side pass
  * (optimization round 18): the fused form of
  * `DeclarativeRef.signatureAgg(Shingles.exploded(…))` (test scope),
  * which paid a corpus
  * exchange and k md5 evaluations per exploded OCCURRENCE for
  * row-local work. This dedups the shingles first (the min over a
  * multiset equals the min over its set), hashes each DISTINCT
  * shingle k times, and keeps the byte-wise-unsigned min digest per
  * seed — unsigned digest order IS the lexicographic order of the
  * lowercase hex rendering, so the emitted strings are identical to
  * the aggregate form's (spec-pinned). Docs with no shingles return
  * an empty array; callers reproduce the absent-row convention. */
case class MinHashSig(child: Expression, n: Int, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"
  override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[UTF8String], n, k)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.MinHashSig.compute($c, $n, $k)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  private val md5 = md5PerThread()

  /** a < b as unsigned byte strings (equal length). */
  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** The k seed prefixes "0:" … "(k-1):" as bytes, built once per
    * `k` and shared read-only by every row and task thread (the
    * kernel runs per document, so rebuilding them per row was k
    * string formats and k array allocations per doc). */
  private val seedPrefixes =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Array[Byte]]]

  private def prefixesFor(k: Int): Array[Array[Byte]] =
    seedPrefixes.computeIfAbsent(k, _ => Array.tabulate(k)(i => s"$i:".getBytes("US-ASCII")))

  /** Called from generated code. */
  def compute(s: UTF8String, n: Int, k: Int): ArrayData = {
    val grams = WordNgrams.slice(s, n)
    val m = grams.numElements()
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    val prefixes = prefixesFor(k)
    val seen = new java.util.HashSet[UTF8String](math.max(16, m * 2))
    val digest = md5.get()
    val mins = new Array[Array[Byte]](k)
    var g = 0
    while (g < m) {
      val sh = grams.getUTF8String(g)
      if (seen.add(sh)) {
        val shBytes = sh.getBytes
        var i = 0
        while (i < k) {
          digest.update(prefixes(i))
          digest.update(shBytes)
          val d = digest.digest()
          if (mins(i) == null || unsignedLess(d, mins(i))) mins(i) = d
          i += 1
        }
      }
      g += 1
    }
    new GenericArrayData(mins.map(d => md5Hex(d): Any))
  }
}

object TextExpressions {

  /** Codegen'd array of all `n`-codepoint windows of `text`. */
  def charNgrams(text: Column, n: Int): Column =
    Bridge.column(CharNgrams(Bridge.expression(text), n))

  /** Codegen'd fused per-document sorted xxhash64 shingle set; see
    * `HashedShingleSet`. */
  def hashedShingleSet(text: Column, n: Int): Column =
    Bridge.column(HashedShingleSet(Bridge.expression(text), n))

  /** Nullability assertion (Catalyst's own `KnownNotNull` tag): marks
    * an expression the CALLER can prove never evaluates to null, so
    * the optimizer stops inferring `isnotnull(<expr>)` filters from
    * null-intolerant consumers — for an expensive kernel expression
    * such an inferred filter gets pushed into the scan and RE-RUNS
    * the kernel per row ahead of the projection that computes it
    * (observed: graft_simhash_sig evaluated 4× per row across the
    * pushed filter and the project). Soundness is the caller's
    * contract: asserting it on a genuinely null row is undefined
    * behavior downstream. */
  def knownNotNull(c: Column): Column =
    Bridge.column(org.apache.spark.sql.catalyst.expressions.KnownNotNull(
      Bridge.expression(c)))

  /** Codegen'd fused per-document k-minhash signature; see
    * `MinHashSig`. */
  def minHashSig(text: Column, n: Int, k: Int): Column =
    Bridge.column(MinHashSig(Bridge.expression(text), n, k))

  /** Codegen'd fused per-document repetition statistics; see
    * `RepetitionStats`. */
  def repetitionStats(text: Column): Column =
    Bridge.column(RepetitionStats(Bridge.expression(text)))

  /** Codegen'd fused per-document term-frequency map; see `TokenTf`. */
  def tokenTf(text: Column): Column =
    Bridge.column(TokenTf(Bridge.expression(text)))

  /** Codegen'd fused per-document language id; see `LangIdScore`. */
  def langIdScore(text: Column): Column =
    Bridge.column(LangIdScore(Bridge.expression(text)))

  /** Codegen'd fused per-document distinct md5'd n-gram set; see
    * `Md5GramSet`. */
  def md5GramSet(text: Column, n: Int): Column =
    Bridge.column(Md5GramSet(Bridge.expression(text), n))

  /** Codegen'd fused per-document SimHash fingerprint; see
    * `SimHashSig`. */
  def simhashSig(text: Column, n: Int): Column =
    Bridge.column(SimHashSig(Bridge.expression(text), n))

  /** Codegen'd fused frozen-model document score; see `ModelScore`. */
  def modelScore(text: Column, model: FrozenTextModel): Column =
    Bridge.column(ModelScore(Bridge.expression(text), model))

  /** Codegen'd single-pass PII redaction + counts; see `PiiScrub`. */
  def piiScrub(text: Column): Column =
    Bridge.column(PiiScrub(Bridge.expression(text)))

  /** Codegen'd single-pass (wc, punct, stop, nonws) struct. */
  def textStats(text: Column, stopwords: Seq[String]): Column =
    Bridge.column(TextStats(Bridge.expression(text), stopwords))

  /** Codegen'd array of all `n`-token shingles of `text` (python
    * whitespace split, single-space joins). */
  def wordNgrams(text: Column, n: Int): Column =
    Bridge.column(WordNgrams(Bridge.expression(text), n))
}
