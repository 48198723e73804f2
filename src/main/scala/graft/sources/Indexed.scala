package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.util.sketch.BloomFilter

/** Key-indexed parquet layout (SURVEY E17): file-level min/max
  * data skipping + a membership bloom on plain parquet — the
  * Delta/Iceberg data-skipping design re-expressed as sidecars, built
  * for POINT-LOOKUP probes of a large store by a small key set (the
  * D10/C34 signature store is the motivating user: each arriving
  * micro-batch needs the store rows matching ~10⁴ uniformly-hashed
  * keys out of ~10⁹).
  *
  * Why parquet alone can't do this: a pushed `In` predicate with a
  * SCATTERED value set never prunes natively — parquet-mr evaluates
  * `In` against row-group and page stats by comparing only the SET'S
  * min/max against the granule range (StatisticsFilter builds
  * `new MinMax(cmp, values)` and range-checks once), and a uniform
  * key set spans the whole key space, so every granule intersects.
  * Per-VALUE granule checks only happen when Spark pushes the set as
  * an OR-of-Eq chain, which it does only BELOW
  * `spark.sql.parquet.pushdown.inFilterThreshold` (and a chain deeper
  * than ~4000 overflows the visitor stack). Measured (SURVEY §6
  * round 10; SkipProbe's source is at commit 814e342), on a 10M-row
  * store, 32-file clustered layout, 2000-row pages: 200-key probe =
  * 392k rows scanned with OR-of-Eq vs 9.93M with native `In`; an
  * unsorted layout never skips under either form.
  *
  * The layout therefore makes the key set SMALL first, then lets
  * parquet's own per-value machinery work:
  *
  *  - `write` clusters rows by the key (range-partition + sort) into
  *    files with small pages (`parquet.page.row.count.limit`), so
  *    each key lives in ~1 file and ~1 page;
  *  - a `_graft_idx/` sidecar per directory holds a per-FILE
  *    [min,max] manifest (parquet) and a key BLOOM (Spark's
  *    mergeable `util.sketch.BloomFilter`, no false negatives);
  *  - `prunedRead` drops probe keys the bloom rules out (the step
  *    that turns 10⁴ keys into the few that can exist), selects only
  *    manifest-matching files (footers of everything else are never
  *    read), and applies the surviving keys as an `isInCollection`
  *    filter that Spark pushes as OR-of-Eq — per-value row-group and
  *    column-index page pruning inside the selected files.
  *
  * The result is bit-identical to `read-everything + filter`: the
  * bloom has no false negatives and the manifest/page pruning only
  * removes granules that cannot contain a probe key, so callers can
  * treat `prunedRead` as a pure optimization (the D10 gate's
  * store-join semantics are unchanged — IndexedSpec pins equality).
  *
  * Directory contract: a ROOT containing one or more subdirectories
  * of parquet files (the `batch=N` append layout); each dir may or
  * may not carry a sidecar — unindexed dirs are read whole, so old
  * stores keep working and the probe degrades gracefully. Sidecar
  * loads are cached per dir (replaced on sidecar mtime change,
  * evicted when the dir leaves the root listing); the per-call cost
  * against an unchanged store is one root listing.
  *
  * Scale: the per-probe cost is O(|keys|) bloom probes + O(hit
  * files) footer reads + O(hit pages) data reads — FLAT in store
  * size. The store pays one clustering shuffle per compaction
  * (amortized; appends just sort the batch) and sidecar jobs bounded
  * by what was written. At a 10⁹-doc store the bloom sidecars total
  * ~10 bits/key; probe them on the driver (they stream in once and
  * cache) or raise `fpp` — false positives only cost extra point
  * reads, never correctness.
  */
object Indexed {

  /** Sidecar dir name — underscore-prefixed: invisible to Spark's
    * parquet file discovery. */
  private val IdxDir = "_graft_idx"
  private val IdxFile = "idx.bin"
  /** Pushdown cap: above this many surviving keys the read falls
    * back to the caller's scan plan. The filter is pushed as an OR of
    * `ChunkSize`-key In chunks over the SORTED keys — each chunk
    * translates to an OR-of-Eq chain (per-value granule pruning) of
    * bounded depth (parquet's predicate visitor recurses per value;
    * ~4000 in one chain overflows the stack), each chunk spans a
    * narrow contiguous key range (so even the chunk-level min/max
    * range check prunes), and the OR tree adds only keys/ChunkSize
    * depth on top. */
  val DefaultKeyCap = 16384
  private val ChunkSize = 512
  private val DefaultPageRows = 2000

  /** Supported key types (bloom + typed manifest need a stable
    * runtime representation). */
  private def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | StringType => true
    case _ => false
  }

  /** Clustered write of `df` into `dir` + sidecar: range-partition on
    * `keyCol` into `nFiles` files, sort within, small pages — the
    * point-lookup layout. `nFiles <= 0` keeps the input partitioning
    * and only sorts within partitions (the cheap per-batch append
    * shape: batch dirs are small, a range shuffle buys nothing). */
  def write(df: DataFrame, dir: String, keyCol: String, nFiles: Int,
            pageRows: Int = DefaultPageRows, fpp: Double = 0.01): Unit = {
    writeSorted(if (nFiles > 0) df.repartitionByRange(nFiles, col(keyCol)) else df,
      dir, keyCol, pageRows)
    writeSidecar(df.sparkSession, dir, keyCol, fpp, pageRows)
  }

  /** The data write of both layouts: each partition of `clustered`
    * sorted by `keyCol` into one file of `pageRows`-row pages,
    * replacing `dir`. */
  private def writeSorted(clustered: DataFrame, dir: String, keyCol: String,
                          pageRows: Int): Unit =
    clustered.sortWithinPartitions(col(keyCol))
      .write.mode(SaveMode.Overwrite)
      .option("parquet.page.row.count.limit", pageRows.toString)
      .parquet(dir)

  /** BATCH write for streaming appends: sorted file(s) + sidecar at
    * the cost of TWO jobs for a small batch (the data write and ONE
    * read-back of the written key column — a streaming gate pays this
    * per micro-batch, so the distributed stats/bloom jobs
    * `writeSidecar` runs are the wrong shape here; measured
    * +3 s/arrival of pure job-scheduling at 500-doc batches). The
    * caller asserts batch-boundedness by choosing this entry point.
    *
    * Layout is ADAPTIVE on `nRows` (caller-known row count, or an
    * UPPER BOUND on it — e.g. the stored `Pins.count` of the
    * checkpointed batch the table derives from; -1 = unknown): the
    * row count only picks the file count, so a bound costs at most
    * an extra file, never a wrong row. Up to `fileRows` rows write
    * as ONE sorted file; bigger
    * batches range-partition into ceil(nRows/fileRows) sorted files
    * (capped at 32) so a 50k-doc arrival doesn't serialize its whole
    * write through a single task (measured: the `coalesce(1)` write
    * was the per-arrival serial floor of the r10 D10 sink at 50k-doc
    * batches). File ranges are disjoint, so per-file [lo,hi]
    * manifests stay as selective as the single-file form.
    *
    * The sidecar (per-file min/max + bloom) is always built from
    * READING BACK the written files, never from re-evaluating `df`:
    * a second evaluation of a non-deterministic frame would yield a
    * bloom inconsistent with the written data, and bloom false
    * negatives silently drop real matches downstream. */
  def writeSmall(df: DataFrame, dir: String, keyCol: String,
                 pageRows: Int = DefaultPageRows, fpp: Double = 0.01,
                 nRows: Long = -1L, fileRows: Int = 65536): Unit = {
    val spark = df.sparkSession
    val nFiles =
      if (nRows <= fileRows) 1
      else math.min(32L, (nRows + fileRows - 1) / fileRows).toInt
    writeSorted(
      if (nFiles <= 1) df.coalesce(1) else df.repartitionByRange(nFiles, col(keyCol)),
      dir, keyCol, pageRows)
    val dt = df.schema(keyCol).dataType
    if (!supported(dt)) return
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFiles = fs.listStatus(new Path(dir)).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_")
        && !st.getPath.getName.startsWith("."))
    if (dataFiles.isEmpty) {
      // empty batch: a fileless sidecar (empty bloom) matches nothing
      serializeSidecar(fs, dir, dt, pageRows, Seq.empty, BloomFilter.create(1, fpp))
      return
    }
    // read back (file, key) from what was actually written — one job
    // over batch-sized files, and the only evaluation the sidecar
    // trusts (null keys go in no manifest/bloom: they match no
    // probe). The key column's schema is the written frame's, so the
    // read skips parquet's schema-inference job. The path trims to
    // its basename EXECUTOR-side: a full ~130-char URI per collected
    // row would 5× the driver transfer for no information the
    // manifest keeps.
    val fk = spark.read.schema(StructType(Seq(df.schema(keyCol)))).parquet(dir)
      .select(substring_index(input_file_name(), "/", -1).as("__f"),
        col(keyCol).as("__k"))
      .collect()
    val bloom = BloomFilter.create(math.max(fk.length, 1).toLong, fpp)
    val perFile = scala.collection.mutable.LinkedHashMap.empty[String, (Any, Any, Long)]
    fk.foreach { r =>
      val k = r.get(1)
      if (k != null) {
        bloomPut(bloom, k)
        val f = r.getString(0)
        perFile.get(f) match {
          case None => perFile.put(f, (k, k, 1L))
          case Some((lo, hi, n)) => perFile.put(f,
            (if (leq(k, lo)) k else lo, if (leq(hi, k)) k else hi, n + 1))
        }
      }
    }
    serializeSidecar(fs, dir, dt, pageRows,
      perFile.iterator.map { case (f, (lo, hi, n)) => (f, lo, hi, n) }.toSeq, bloom)
  }

  /** Build + write the `_graft_idx` sidecar for an already-written
    * parquet dir: per-file [min,max] stats and a key bloom via two
    * distributed jobs (store-sized dirs — compaction's shape), then
    * one driver-serialized sidecar file. No-op (returns false) for
    * key types the sidecar can't represent — the dir is then simply
    * unindexed and reads degrade to scans. */
  def writeSidecar(spark: SparkSession, dir: String, keyCol: String,
                   fpp: Double = 0.01, pageRows: Int = DefaultPageRows): Boolean = {
    val data = spark.read.parquet(dir).select(col(keyCol))
    val dt = data.schema.head.dataType
    if (!supported(dt)) return false
    val manifest = data.groupBy(input_file_name().as("file"))
      .agg(min(col(keyCol)).as("lo"), max(col(keyCol)).as("hi"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0).split('/').last, r.get(1), r.get(2), r.getLong(3)))
    val total = manifest.map(_._4).sum
    val bloom = data.stat.bloomFilter(keyCol, math.max(total, 1L), fpp)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    serializeSidecar(fs, dir, dt, pageRows, manifest.toSeq, bloom)
    true
  }

  private def bloomPut(b: BloomFilter, key: Any): Unit = key match {
    case l: java.lang.Long => b.putLong(l)
    case i: java.lang.Integer => b.putLong(i.longValue())
    case s: String => b.putString(s)
    case other => b.put(other)
  }

  private def typeTag(dt: DataType): Int = dt match {
    case LongType => 0
    case IntegerType => 1
    case StringType => 2
    case other => throw new IllegalArgumentException(s"unsupported key type $other")
  }

  /** The whole sidecar as ONE driver-written binary file
    * `_graft_idx/idx.bin`: header (version, key type, page rows),
    * per-file [name, lo, hi, rows] stats, then the bloom. Writing it
    * costs no Spark job, and the loader parses it with one fs read —
    * the cheap shape a per-micro-batch append needs. */
  private def serializeSidecar(fs: FileSystem, dir: String, dt: DataType,
                               pageRows: Int,
                               files: Seq[(String, Any, Any, Long)],
                               bloom: BloomFilter): Unit = {
    val idx = new Path(new Path(dir, IdxDir), IdxFile)
    val out = new java.io.DataOutputStream(fs.create(idx, true))
    try {
      out.writeInt(0x47494458) // "GIDX"
      out.writeInt(1)
      out.writeInt(typeTag(dt))
      out.writeInt(pageRows)
      out.writeInt(files.size)
      def writeKey(v: Any): Unit = v match {
        case l: java.lang.Long => out.writeLong(l)
        case i: java.lang.Integer => out.writeInt(i)
        case s: String =>
          val b = s.getBytes("UTF-8")
          out.writeInt(b.length); out.write(b)
      }
      files.foreach { case (name, lo, hi, n) =>
        val nb = name.getBytes("UTF-8")
        out.writeInt(nb.length); out.write(nb)
        writeKey(lo); writeKey(hi)
        out.writeLong(n)
      }
      bloom.writeTo(out)
    } finally out.close()
  }

  /** Parse `_graft_idx/idx.bin`; None on absence or any corruption
    * (the dir is then treated as unindexed — never wrong, only
    * slower). */
  private def parseSidecar(fs: FileSystem, d: Path)
    : Option[(Array[(String, Any, Any)], BloomFilter, Long, Int)] = {
    val idx = new Path(new Path(d, IdxDir), IdxFile)
    try {
      val in = new java.io.DataInputStream(fs.open(idx))
      try {
        require(in.readInt() == 0x47494458 && in.readInt() == 1)
        val tag = in.readInt()
        val pageRows = in.readInt()
        val nFiles = in.readInt()
        def readKey(): Any = tag match {
          case 0 => java.lang.Long.valueOf(in.readLong())
          case 1 => java.lang.Integer.valueOf(in.readInt())
          case 2 =>
            val b = new Array[Byte](in.readInt()); in.readFully(b)
            new String(b, "UTF-8")
        }
        var rows = 0L
        val files = (0 until nFiles).map { _ =>
          val nb = new Array[Byte](in.readInt()); in.readFully(nb)
          val name = new String(nb, "UTF-8")
          val lo = readKey(); val hi = readKey()
          rows += in.readLong()
          (new Path(d, name).toString, lo, hi)
        }.toArray
        val bloom = BloomFilter.readFrom(in)
        Some((files, bloom, rows, pageRows))
      } finally in.close()
    } catch { case _: Exception => None }
  }

  /** One directory's loaded sidecar: per-file ranges (sorted by lo)
    * and the bloom; `indexed = false` marks a dir with no usable
    * sidecar (read whole, all probe keys forced alive). */
  final case class DirIndex(dir: String, indexed: Boolean,
                            files: Array[(String, Any, Any)],
                            bloom: Option[BloomFilter], rows: Long,
                            pageRows: Int)

  /** dir path → (sidecar mtime, DirIndex). One entry per LIVE dir:
    * a rewrite under the same path replaces its entry (mtime check),
    * and `load` drops entries whose dir vanished from the root
    * listing — without that, a long-running stream compacting its
    * store would pin every superseded dir's bloom (~10 bits/key) in
    * driver memory forever. */
  private val cache = TrieMap.empty[String, (Long, DirIndex)]

  /** Test hook: the dirs currently cached (across all roots). */
  private[graft] def cachedDirs: Set[String] = cache.keySet.toSet

  /** List the data subdirectories of a store root. Also accepts a
    * root that directly contains parquet files (treated as one dir). */
  private def dataDirs(fs: FileSystem, root: Path): Seq[Path] = {
    val entries = fs.listStatus(root).toSeq
      .filterNot(_.getPath.getName.startsWith("_"))
    val dirs = entries.filter(_.isDirectory)
    if (dirs.nonEmpty) dirs.map(_.getPath) else Seq(root)
  }

  /** Load (with caching) every data dir's sidecar under `root`;
    * evicts cache entries for dirs compaction deleted and replaces
    * entries whose sidecar was rewritten (mtime change). */
  def load(spark: SparkSession, root: String): Seq[DirIndex] = {
    val rootPath0 = new Path(root)
    val fs = rootPath0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootPath = fs.makeQualified(rootPath0)
    // evict this root's entries that are no longer in the live
    // listing — including the whole-root-deleted case, or its blooms
    // would stay pinned for JVM life (scoped: other stores' entries
    // stay)
    def evict(live: Set[String]): Unit = cache.keys.foreach { k =>
      if (!live.contains(k) &&
          (k == rootPath.toString || new Path(k).getParent == rootPath))
        cache.remove(k)
    }
    if (!fs.exists(rootPath0)) { evict(Set.empty); return Seq.empty }
    val dirs = dataDirs(fs, rootPath)
    evict(dirs.map(_.toString).toSet)
    dirs.map { d =>
      val idxFile = new Path(new Path(d, IdxDir), IdxFile)
      val mtime =
        if (fs.exists(idxFile)) fs.getFileStatus(idxFile).getModificationTime
        else -1L
      def unindexed: DirIndex = {
        // unindexed: every parquet file, no pruning possible. A
        // NESTED layout (inner partition dirs) can't be enumerated as
        // leaf files here — mark it opaque so prunedRead bails to the
        // caller's full-scan plan instead of silently reading nothing.
        val entries = fs.listStatus(d).toSeq
          .filterNot(st => st.getPath.getName.startsWith("_")
            || st.getPath.getName.startsWith("."))
        if (entries.exists(_.isDirectory))
          DirIndex(d.toString, indexed = false, null, None, -1L, DefaultPageRows)
        else DirIndex(d.toString, indexed = false,
          entries.map(st => (st.getPath.toString, null: Any, null: Any)).toArray,
          None, -1L, DefaultPageRows)
      }
      if (mtime < 0) { cache.remove(d.toString); unindexed }
      else cache.get(d.toString) match {
        case Some((m, di)) if m == mtime => di
        case _ =>
          val di = parseSidecar(fs, d) match {
            case Some((files, bloom, rows, pr)) =>
              DirIndex(d.toString, indexed = true, files, Some(bloom), rows, pr)
            case None => unindexed // unreadable sidecar: slower, never wrong
          }
          cache.put(d.toString, (mtime, di))
          di
      }
    }
  }

  private def mightContain(b: BloomFilter, key: Any): Boolean = key match {
    case l: java.lang.Long => b.mightContainLong(l)
    case i: java.lang.Integer => b.mightContainLong(i.longValue())
    case s: String => b.mightContainString(s)
    case other => b.mightContain(other)
  }

  /** Key ordering for manifest range checks — MUST match the
    * ordering Spark's min/max wrote the manifests under. For strings
    * that is UTF8String's unsigned UTF-8 BYTE order, which disagrees
    * with java.lang.String's UTF-16 code-unit order for supplementary
    * characters vs U+E000–U+FFFF: comparing with String.<= here could
    * wrongly prune a file that holds a probe key (silent row loss)
    * for such keys. */
  @inline private def leq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: java.lang.Long, y: java.lang.Long) => x <= y
    case (x: java.lang.Integer, y: java.lang.Integer) => x <= y
    case (x: String, y: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) <= 0
    case _ => true // unknown pairing: keep the file (never unsound)
  }

  /** Total order consistent with `leq` within a type; cross-type
    * pairs order by class name so the order stays TRANSITIVE when a
    * caller mixes key types in one probe (Seq[Any] is the public
    * API; an intransitive comparator would make TimSort throw
    * mid-probe instead of returning rows). Cross-type order is
    * arbitrary — only chunk locality, never correctness, depends on
    * it. */
  private val keyOrdering: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (x: java.lang.Long, y: java.lang.Long) => java.lang.Long.compare(x, y)
      case (x: java.lang.Integer, y: java.lang.Integer) => java.lang.Integer.compare(x, y)
      case (x: String, y: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
      case _ => a.getClass.getName.compareTo(b.getClass.getName)
    }
  }

  /** The pruned probe: rows of `root` whose `keyName` ∈ `keys`,
    * reading only what the sidecars can't rule out. Returns None when
    * pruning can't beat a plain scan (too many surviving keys, or
    * nothing is indexed) — the caller falls back to its full-scan
    * plan, which is always correct. Returns Some(empty) when the
    * blooms rule every key out — the probe then costs NOTHING.
    *
    * Leaves session conf untouched: the surviving-key filter chunks
    * to the session's current In-pushdown threshold (per-value
    * granule pruning either way); call `configureSession` once at
    * setup for the preferred wider chunks.
    *
    * `schema`: the store files' schema when the caller knows it.
    * Every `spark.read.parquet` without one runs a one-task
    * schema-inference job over a file footer, which a per-arrival
    * probe pays on every call; None keeps that inference. */
  def prunedRead(spark: SparkSession, root: String, keyName: String,
                 keys: Seq[Any], keyCap: Int = DefaultKeyCap,
                 schema: Option[StructType] = None): Option[DataFrame] = {
    val dirs = load(spark, root)
    if (dirs.isEmpty || dirs.forall(!_.indexed)) return None
    if (dirs.exists(d => !d.indexed && d.files == null)) return None // opaque dir
    def read(files: String*): DataFrame =
      schema.fold(spark.read)(spark.read.schema(_)).parquet(files: _*)
    def emptyOf: Option[DataFrame] =
      dirs.collectFirst { case d if d.files.nonEmpty => d.files.head._1 }
        .map(f => read(f).limit(0))
    // nulls never satisfy an In predicate — drop them up front
    val distinctKeys = keys.filter(_ != null).distinct
    // a key is alive if ANY dir might hold it: an unindexed dir keeps
    // every key alive; an indexed dir vouches via its bloom. Bloom
    // ELIMINATION is only sound for keys whose runtime type hashes
    // like the store's key type (integral↔integral, string↔string):
    // a String probing a long-keyed store misses the bloom by
    // construction, yet the caller's scan+filter might still match
    // it after Spark's implicit coercion — such keys stay alive and
    // ride the pushed predicate, identical to the scan plan's.
    val anyUnindexed = dirs.exists(!_.indexed)
    val blooms = dirs.flatMap(_.bloom)
    val storeSample: Option[Any] = dirs.iterator.filter(_.indexed)
      .flatMap(_.files.iterator.map(_._2)).find(_ != null)
    def integral(x: Any): Boolean =
      x.isInstanceOf[java.lang.Long] || x.isInstanceOf[java.lang.Integer]
    def bloomable(k: Any): Boolean = storeSample.exists(s =>
      (integral(k) && integral(s)) ||
        (k.isInstanceOf[String] && s.isInstanceOf[String]))
    val alive: Seq[Any] =
      if (anyUnindexed) distinctKeys
      else distinctKeys.filter(k =>
        !bloomable(k) || blooms.exists(b => mightContain(b, k)))
    if (alive.isEmpty) return emptyOf
    // cost gate: a point probe reads ~one page per alive key per dir
    // that might hold it, so when the estimate reaches half the store
    // a plain scan is at least as cheap (and pays no per-row
    // OR-of-InSet evaluation) — decline and let the caller's scan
    // plan run. Estimated per INDEXED dir as min(alive × pageRows,
    // dirRows); unindexed flat dirs are read whole under either plan,
    // so they cancel out of the comparison.
    val est = dirs.collect {
      case d if d.indexed => math.min(alive.size.toLong * d.pageRows, d.rows)
    }.sum
    val total = dirs.filter(_.indexed).map(_.rows).sum
    if (alive.size > keyCap || est * 2 >= total) return None
    // file selection: keep a file iff some alive key ∈ [lo, hi]
    // (merge over the lo-sorted manifest); unindexed dirs keep all
    val sortedKeys = alive.sorted(keyOrdering)
    val files = dirs.flatMap { d =>
      if (!d.indexed) d.files.map(_._1)
      else d.files.collect {
        case (f, lo, hi) if alive.exists(k => leq(lo, k) && leq(k, hi)) => f
      }
    }
    if (files.isEmpty) return emptyOf
    // per-value pushdown WITHOUT touching session conf: parquet
    // expands an In to per-value Eq granule checks only when its
    // value count is at or below the SESSION'S
    // `spark.sql.parquet.pushdown.inFilterThreshold` — so chunk the
    // sorted keys to min(ChunkSize, threshold) and OR the chunks as a
    // BALANCED tree (parquet's predicate visitor recurses per node;
    // a left-deep chain of thousands overflows it). `configureSession`
    // raises the threshold to the preferred 512-key chunks once, at
    // setup, where the caller can see it; an un-configured session
    // still prunes per-value, just through more/smaller chunks (the
    // residual Catalyst filter stays cheap either way: each chunk
    // optimizes to an InSet hash probe).
    val thr = spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold", "10").toInt
    val chunk = math.max(1, math.min(ChunkSize, thr))
    def orTree(cs: IndexedSeq[Column]): Column =
      if (cs.size == 1) cs.head
      else orTree(cs.grouped(2)
        .map(g => if (g.size == 2) g(0) || g(1) else g(0)).toIndexedSeq)
    val pred = orTree(sortedKeys.grouped(chunk)
      .map(ch => col(keyName).isInCollection(ch)).toIndexedSeq)
    Some(read(files: _*).filter(pred))
  }

  /** Session-level setup (explicit and documented — `prunedRead`
    * itself never mutates session conf): raise the parquet In-pushdown
    * threshold so probe predicates chunk at the preferred 512 keys
    * instead of the 10-key default. Affects how ANY In of 11–1024
    * values pushes down on this session (per-value Eq checks instead
    * of a set-min/max range check — strictly more pruning, slightly
    * larger pushed predicates), which is why it is a visible setup
    * call made once by the streaming sinks and benches, not a hidden
    * side effect of every probe. */
  def configureSession(spark: SparkSession): Unit =
    if (spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold", "10").toInt
        <= ChunkSize)
      spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold",
        (2 * ChunkSize).toString)
}
