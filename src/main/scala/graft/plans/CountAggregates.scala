package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graft.Bridge

/** Fused TRAINING-side counting aggregates for the text models
  * (SURVEY C46/C52): the declarative training passes explode every
  * document into one row per feature and hash-aggregate
  * corpus×features rows down to a model-bounded count table — correct
  * and shuffle-light (map-side partials bound the exchange), but the
  * per-feature row machinery (Generate, gram string materialization,
  * string-keyed hash-agg probes) dominates training cost at scale.
  * These aggregates fold the whole per-partition pass into one
  * byte-walk per document updating a model-bounded buffer, the same
  * cure the scoring side got from DsirScore/NbScore — counts are
  * exact longs, so the trained models are BIT-IDENTICAL
  * (DsirSpec/ClassifierSpec pin table equality).
  *
  * Scale shape: per-partition state is one B-long array (C46: B =
  * 16^prefixLen) or one seed-vocabulary-sized map (C52 — the same
  * "seed corpora are small by construction" budget Model.compiled
  * already spends); the shuffle carries one partial buffer per
  * partition, and the result is ONE row the caller explodes back
  * into the (key, count) table the training math consumes.
  */
object CountAggregates {

  /** C46 features: md5-`prefixLen`-hex-prefix buckets of word
    * unigrams + bigrams, with multiplicity, as `array<long>` of
    * 16^prefixLen counts. Null/empty docs contribute nothing (the
    * declarative form's explode_outer null row is filtered before
    * counting). */
  case class BucketCountAgg(child: Expression, prefixLen: Int,
                            mutableAggBufferOffset: Int = 0,
                            inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {
    require(prefixLen >= 1 && prefixLen <= 7, // 16^7 longs = 2 GiB cap guard
      s"BucketCountAgg: prefixLen $prefixLen outside [1,7]")
    override def createAggregationBuffer(): Array[Long] =
      new Array[Long](1 << (4 * prefixLen))
    override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v != null)
        CompiledBucketWeights.countInto(v.asInstanceOf[UTF8String], prefixLen, buf)
      buf
    }
    override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
      var i = 0
      while (i < buf.length) { buf(i) += other(i); i += 1 }
      buf
    }
    override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)
    override def serialize(buf: Array[Long]): Array[Byte] = {
      val bb = ByteBuffer.allocate(8 * buf.length)
      bb.asLongBuffer().put(buf)
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val out = new Array[Long](bytes.length / 8)
      ByteBuffer.wrap(bytes).asLongBuffer().get(out)
      out
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "graft_bucket_counts"
    override def withNewMutableAggBufferOffset(o: Int): BucketCountAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): BucketCountAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(newChild: Expression): BucketCountAgg =
      copy(child = newChild)
  }

  /** C52 features: word-unigram occurrence counts (WordNgrams'
    * whitespace rule, multiplicity kept) as `map<string,bigint>`.
    * Buffer is seed-vocabulary-bounded. */
  case class TokenCountAgg(child: Expression,
                           mutableAggBufferOffset: Int = 0,
                           inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[java.util.HashMap[UTF8String, Array[Long]]]
      with UnaryLike[Expression] {
    type Buf = java.util.HashMap[UTF8String, Array[Long]]
    override def createAggregationBuffer(): Buf = new Buf()
    override def update(buf: Buf, input: InternalRow): Buf = {
      val v = child.eval(input)
      if (v != null) {
        val bytes = v.asInstanceOf[UTF8String].getBytes
        val len = bytes.length
        var i = 0
        while (i < len) {
          while (i < len && KernelBytes.isWs(bytes(i))) i += 1
          if (i < len) {
            val start = i
            while (i < len && !KernelBytes.isWs(bytes(i))) i += 1
            val tok = UTF8String.fromBytes(
              java.util.Arrays.copyOfRange(bytes, start, i))
            val cell = buf.get(tok)
            if (cell == null) buf.put(tok, Array(1L)) else cell(0) += 1L
          }
        }
      }
      buf
    }
    override def merge(buf: Buf, other: Buf): Buf = {
      val it = other.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val cell = buf.get(e.getKey)
        if (cell == null) buf.put(e.getKey, e.getValue)
        else cell(0) += e.getValue()(0)
      }
      buf
    }
    override def eval(buf: Buf): Any = {
      val keys = new Array[Any](buf.size())
      val vals = new Array[Any](buf.size())
      val it = buf.entrySet().iterator()
      var i = 0
      while (it.hasNext) {
        val e = it.next()
        keys(i) = e.getKey; vals(i) = e.getValue()(0); i += 1
      }
      new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
    }
    override def serialize(buf: Buf): Array[Byte] = {
      var size = 4
      val it0 = buf.entrySet().iterator()
      while (it0.hasNext) { size += 12 + it0.next().getKey.numBytes(); }
      val bb = ByteBuffer.allocate(size)
      bb.putInt(buf.size())
      val it = buf.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val kb = e.getKey.getBytes
        bb.putInt(kb.length); bb.put(kb); bb.putLong(e.getValue()(0))
      }
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): Buf = {
      val bb = ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val buf = new Buf(math.max(16, n * 2))
      var i = 0
      while (i < n) {
        val kb = new Array[Byte](bb.getInt)
        bb.get(kb)
        buf.put(UTF8String.fromBytes(kb), Array(bb.getLong))
        i += 1
      }
      buf
    }
    override def dataType: DataType =
      MapType(StringType, LongType, valueContainsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "graft_token_counts"
    override def withNewMutableAggBufferOffset(o: Int): TokenCountAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): TokenCountAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(newChild: Expression): TokenCountAgg =
      copy(child = newChild)
  }

  /** Aggregate column: 16^prefixLen bucket counts of `text`'s
    * unigram+bigram md5 features. */
  def bucketCounts(text: Column, prefixLen: Int): Column =
    Bridge.column(
      BucketCountAgg(Bridge.expression(text), prefixLen).toAggregateExpression())

  /** Aggregate column: word-unigram counts of `text` as a map. */
  def tokenCounts(text: Column): Column =
    Bridge.column(TokenCountAgg(Bridge.expression(text)).toAggregateExpression())
}
