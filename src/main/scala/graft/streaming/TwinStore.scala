package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Persistence for the streaming twins' cross-trigger state tables
 * ([[StreamingClusters]], [[StreamingCuration]]) — the piece that was
 * previously an in-memory `localCheckpoint` union chain with a scaladoc
 * CLAIM that "at 100 TB this is a parquet/Delta table". The claim is now
 * an implementation: the twins speak three verbs and the store decides
 * where state lives.
 *
 *  - `append(name, delta)` — for APPEND-ONLY tables (doc metadata,
 *    winnow postings, corpus signature/band tables): the per-trigger
 *    write is delta-sized by construction.
 *  - `merge(name, keyCols, upserts, deleteKeys)` — for MERGED tables
 *    (exact-keeper map, label table, the survivor signature store under
 *    dethronement removals, the per-doc flag ledger): the keyed
 *    Delta/Iceberg-MERGE equivalent. The per-trigger WRITE is
 *    update-mass (the upsert rows and delete keys, nothing else); the
 *    parquet implementation is merge-on-read with periodic compaction.
 *  - `replace(name, df)` — for tables that are REBUILT whole each
 *    trigger and are small by construction (the O(sources) serving
 *    counters). Rewrites table mass; do not use it for state that grows
 *    with the corpus — that's what `merge` is for.
 *  - `load(spark, name)` — how a RESTARTED twin resumes: both twins
 *    lazily load every state table from the store before their first
 *    state access, so a new incarnation over an existing parquet root
 *    continues exactly where the last one stopped (`StreamingSpec`
 *    pins a mid-stream restart, with dethronements crossing the
 *    restart boundary, equal to the batch recompute).
 *
 * Every verb returns the CURRENT full table; callers never union state
 * themselves, so the in-memory and on-disk twins run the identical
 * maintenance logic (`StreamingSpec` pins streaming-final == batch
 * through BOTH implementations).
 *
 * RETENTION CONTRACT (all implementations): a DataFrame returned at
 * trigger T stays readable through trigger T+1's maintenance, and no
 * longer — the second subsequent merge/replace on the same table may
 * garbage-collect the files backing it. Callers must therefore
 * re-acquire each state table every trigger (the twins do: every verb
 * returns the current table and the twin replaces its held reference)
 * and must NOT hand returned DataFrames to long-lived consumers; a
 * serving layer reads through `load` at its own trigger cadence.
 */
trait TwinStore {
  /** Append `delta` to table `name`; returns the full current table. */
  def append(name: String, delta: DataFrame): DataFrame

  /** Keyed MERGE into table `name` — the Delta/Iceberg `MERGE INTO`
    * equivalent, and the only verb whose parquet write cost is
    * UPDATE-mass rather than table mass. Semantics:
    *
    *  - every key group present in `upserts` REPLACES the stored rows
    *    with that key (a key may span multiple rows — e.g. a doc's
    *    shingle set — and the whole group is swapped);
    *  - every key in `deleteKeys` is removed;
    *  - all other rows are untouched.
    *
    * Upsert and delete key sets within one call should be disjoint; if
    * a caller violates that, DELETE WINS uniformly (both store
    * implementations drop the overlapping upsert rows before anything
    * is stored, and the parquet store's file-level resolution lets a
    * same-sequence delete row win — so state never silently depends on
    * whether a restart happened). A deleted key MAY be re-upserted by a
    * LATER merge (a doc can re-enter the label table when a new arrival
    * pairs with it after its previous partner dethroned out). Returns
    * the full current table. */
  def merge(name: String, keyCols: Seq[String], upserts: DataFrame,
            deleteKeys: Option[DataFrame]): DataFrame

  /** Replace table `name` with `df`; returns the stored table. Write
    * cost is table mass — reserve for tables that are small by
    * construction (see the class doc); growing merged state goes
    * through [[merge]]. */
  def replace(name: String, df: DataFrame): DataFrame

  /** The stored current table, if this store holds one — how a
    * RESTARTED twin resumes where the previous incarnation stopped
    * (None for a fresh store; always None for the in-memory store in a
    * new JVM, which is exactly why the parquet store exists). */
  def load(spark: SparkSession, name: String): Option[DataFrame]
}

/** In-memory store: `localCheckpoint` unions, lineage truncated per
  * trigger (the original twin shape — right for tests and for state that
  * fits the cluster's block managers). Checkpoints are COALESCED to the
  * session's shuffle-partition count for the same reason the parquet
  * store's are: a union checkpoint inherits both legs' partitions, so an
  * unbounded chain of per-trigger unions would grow the state's task
  * count by the delta's partitions every trigger. */
final class InMemoryTwinStore extends TwinStore {
  private val tables = scala.collection.mutable.Map.empty[String, DataFrame]

  private def bounded(df: DataFrame): DataFrame =
    df.coalesce(df.sparkSession.sessionState.conf.numShufflePartitions)
      .localCheckpoint()

  override def append(name: String, delta: DataFrame): DataFrame = synchronized {
    val next = tables.get(name)
      .fold(bounded(delta))(t => bounded(t.unionByName(delta)))
    tables(name) = next
    next
  }

  override def merge(name: String, keyCols: Seq[String], upserts: DataFrame,
                     deleteKeys: Option[DataFrame]): DataFrame = synchronized {
    val keyed = keyCols.map(col)
    // delete-wins on an (contract-violating) upsert/delete key overlap —
    // uniform with the parquet store's warm fold AND its cold file-level
    // window (a same-sequence delete row wins there)
    val up = deleteKeys.fold(upserts)(d =>
      upserts.join(d.select(keyed: _*), keyCols, "left_anti"))
    val next = tables.get(name) match {
      case None => bounded(up)
      case Some(cur) =>
        val gone = deleteKeys.fold(up.select(keyed: _*))(
          d => up.select(keyed: _*).unionByName(d.select(keyed: _*)))
        bounded(cur.join(gone, keyCols, "left_anti").unionByName(up))
    }
    tables(name) = next
    next
  }

  override def replace(name: String, df: DataFrame): DataFrame = synchronized {
    val next = df.localCheckpoint()
    tables(name) = next
    next
  }

  override def load(spark: SparkSession, name: String): Option[DataFrame] =
    synchronized(tables.get(name))
}

/**
 * Parquet-backed store rooted at `root` — LOCAL-FILESYSTEM ONLY (paths
 * walk `java.io.File`; a cluster deployment swaps this class for a
 * Delta/Iceberg table keeping the same verb boundary).
 *
 *  - APPEND tables are a single directory the trigger appends one delta
 *    file-set to (state survives the JVM; a restarted twin re-reads it).
 *  - MERGED tables (`$name.m/`) are HASH-BUCKETED MERGE-ON-READ. The
 *    table dir holds [[ParquetTwinStore.NumBuckets]] bucket dirs
 *    (`b<k>/`, k = xxhash64(key cols) mod fanout, fanout persisted in a
 *    `_fanout` marker so restarts route identically); each bucket is an
 *    independent mini MoR table with its own sequence-numbered delta
 *    (`d<seq>`) and base (`base-v<seq>`) file sets. A merge is ONE
 *    delta: its upsert rows and its delete keys in one parquet file set,
 *    told apart by a boolean `_del` column (a delete row carries the key
 *    columns and nulls elsewhere). The merge stages it ONCE, on the
 *    calling thread, unpartitioned, with the routing bucket as a `_gb`
 *    column; a small (spraying micro-batch) update then PLACES as one
 *    shared OVERFLOW delta (`ovf/d<seq>` + a `_buckets` manifest — a
 *    rename, no per-bucket files), while a bulk update re-splits into
 *    per-bucket files — so the write is one Spark job and update-mass,
 *    with no per-touched-bucket fixed term, and ONLY the buckets the
 *    update's keys hash to are touched. Resolution of
 *    a touched bucket is INCREMENTAL: the arriving delta folds into
 *    the bucket's cached prior resolution (a broadcast anti-join on
 *    the update's keys + union — the [[InMemoryTwinStore.merge]] shape
 *    per bucket), so a trigger never re-reads the bucket's base +
 *    delta files or re-runs the merge-on-read window; the fold is
 *    materialized in one batched `localCheckpoint` over all touched
 *    buckets. The file-level last-writer-wins window (per key group by
 *    file sequence: an upsert row lives iff its file is the key's newest
 *    upsert file and is strictly newer than the key's newest delete row)
 *    runs only on the COLD path — a restarted store resolving a bucket
 *    it has no cache for — and exactly once per bucket per incarnation;
 *    the fuzz suite pins the incremental fold equal to the window across
 *    restarts. Untouched buckets are served from their cached prior
 *    resolution, or read lazily straight from their base file when
 *    they carry no deltas. Compaction is BUCKET-LOCAL: once a bucket's
 *    live delta count (a delete-only merge counts like any other) passes
 *    [[ParquetTwinStore.MaxDeltas]], that
 *    bucket alone folds into a new `base-v<seq>` (written from the
 *    already-checkpointed resolution to a temp dir, then RENAMED into
 *    place — a crash mid-write can never leave a torn base masking
 *    still-live older deltas; a bucket that resolves EMPTY, e.g. one
 *    whose deltas hold only deletes, writes a `_floor` marker in lieu of
 *    a base) and its consumed files are
 *    garbage-collected ONE TRIGGER LATER (deferred GC, so a DataFrame
 *    handed out at trigger T survives trigger T+1 — the retention
 *    contract on [[TwinStore]]). The deferred-GC list is persisted
 *    (`_pending_rm` marker) so a JVM restart between the compaction
 *    and the next merge still releases the consumed files. A bucket or
 *    overflow dir holding a `t<seq>` tombstone dir, the separate delete
 *    file kind of an earlier store version, is refused loudly.
 *    Net effect at scale: per-trigger DISK cost (read and write) is
 *    update-mass regardless of key distribution; the remaining
 *    state-proportional term is the in-memory re-checkpoint of the
 *    touched buckets' resolutions, bounded per bucket and sized by the
 *    fanout knob (a cluster deployment sizes fanout like any bucketed
 *    table's: state mass / target bucket size).
 *  - REPLACED tables are written to a fresh versioned directory per
 *    trigger, keeping the previous version alive until the NEXT replace
 *    (same retention window as merge), then deleted.
 */
final class ParquetTwinStore(root: String,
                             fanout: Int = ParquetTwinStore.NumBuckets,
                             broadcastKeyBytes: Long = ParquetTwinStore.BroadcastKeyBytes,
                             overflowBytes: Long = ParquetTwinStore.OverflowBytes)
    extends TwinStore {
  import ParquetTwinStore.MaxDeltas

  private val versions = scala.collection.mutable.Map.empty[String, Long]
  // table -> last used file sequence across ALL its buckets AND the
  // shared overflow dir. ONE monotone sequence per table: per-bucket
  // ordering only needs the sequence to increase within each bucket,
  // and a table-wide sequence lets OVERFLOW deltas (one file carrying
  // many buckets' rows — see the place phase) order consistently
  // against per-bucket files in the same bucket's resolution window.
  private val tableSeqs = scala.collection.mutable.Map.empty[String, Long]
  // (table, bucket) -> the TAGGED checkpointed ancestor (carries a `_gb`
  // bucket column) whose slice `_gb == bucket` is that bucket's current
  // resolution. Buckets materialized by the same batched checkpoint
  // share the ancestor BY REFERENCE, so readers group buckets by
  // ancestor and scan it ONCE with a grouped isin filter — a spraying
  // update folds all its buckets in one pass instead of fanout passes
  private val bucketCache =
    scala.collection.mutable.Map.empty[(String, Int), DataFrame]
  // files consumed by a compaction, physically deleted at the START of
  // the next merge on the same table (the deferred-GC half of the
  // retention contract); mirrored to a `_pending_rm` marker file so a
  // restart between compaction and next merge still releases them
  private val pendingRm = scala.collection.mutable.Map.empty[String, Seq[String]]

  // per-merge phase attribution (seconds, accumulated until drained):
  // the instrument behind the streaming ladder's per-trigger breakdown —
  // an unexplained trigger spike decomposes into gc/stage/checkpoint/
  // compact instead of staying a mystery number
  private val phaseNs = scala.collection.mutable.Map.empty[String, Long]
  private def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally phaseNs(name) = phaseNs.getOrElse(name, 0L) + (System.nanoTime() - t0)
  }

  /** Accumulated per-phase merge seconds since the last drain (probe /
    * ladder instrumentation; resets the accumulator). */
  def drainPhaseSeconds(): Map[String, Double] = synchronized {
    val out = phaseNs.map { case (k, v) => k -> v / 1e9 }.toMap
    phaseNs.clear()
    out
  }

  // diagnostics: how many times the file-level merge-on-read window ran
  // (the COLD path — once per bucket per incarnation at most; the spec
  // pins that warm merges never add to this)
  private val coldWindowCount = new java.util.concurrent.atomic.AtomicLong
  def coldWindowResolves: Long = coldWindowCount.get

  private def rm(path: String): Unit = {
    def walk(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(walk)
      f.delete(): Unit
    }
    walk(new java.io.File(path))
  }

  /** Names of the directories under `dir` (empty for a missing dir). */
  private def subdirs(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles())
      .fold(Seq.empty[String])(_.toSeq.filter(_.isDirectory).map(_.getName))

  /** Directories under `dir` whose name starts with `prefix` followed by
    * digits, as (sequence, path), ascending. */
  private def seqDirs(dir: String, prefix: String): Seq[(Long, String)] =
    seqDirs(dir, subdirs(dir), prefix)

  /** [[seqDirs]] over an already-listed set of directory `names`. */
  private def seqDirs(dir: String, names: Seq[String],
                      prefix: String): Seq[(Long, String)] =
    names.filter(n => n.startsWith(prefix) && n.length > prefix.length &&
        n.drop(prefix.length).forall(_.isDigit))
      .map(n => (n.drop(prefix.length).toLong, s"$dir/$n"))
      .sortBy(_._1)

  /** A parquet dir readable by spark.read (has at least one data file). */
  private def hasData(path: String): Boolean = {
    val fs = new java.io.File(path).listFiles()
    fs != null && fs.exists(f => f.isFile && f.getName.startsWith("part-"))
  }

  /** On-disk bytes of the KEY columns inside a staged parquet dir, read
    * from the parquet footers (metadata-only — no data pages touched).
    * The honest proxy for the broadcast key-set size: a wide-row
    * micro-batch (an ANN index's embedding vectors, a doc table's
    * bodies) can stage tens of MiB of full-width rows while its key set
    * is a few KiB, and gating on TOTAL staged bytes would silently drop
    * the broadcast fold on the steady-state hot path. Falls back to the
    * file's full length for any file whose footer can't be read. */
  private def stagedKeyBytes(spark: SparkSession, path: String,
                             keyCols: Seq[String]): Long = {
    import scala.jdk.CollectionConverters._
    val keys = keyCols.toSet
    def files(f: java.io.File): Iterator[java.io.File] = {
      val kids = f.listFiles()
      if (kids == null) Iterator.empty
      else kids.iterator.flatMap { k =>
        if (k.isDirectory) files(k)
        else if (k.isFile && k.getName.startsWith("part-")) Iterator.single(k)
        else Iterator.empty
      }
    }
    val conf = spark.sparkContext.hadoopConfiguration
    files(new java.io.File(path)).map { f =>
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f.getPath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala.iterator
          .flatMap(_.getColumns.asScala)
          .filter(c => keys(c.getPath.toDotString.takeWhile(_ != '.')))
          .map(_.getTotalSize).sum
        finally r.close()
      } catch { case scala.util.control.NonFatal(_) => f.length() }
    }.sum
  }

  /** Total bytes of regular files under `path` (recursive; 0 for a
    * missing dir) — local fs metadata, the free size signal behind the
    * overflow/bulk placement choice. */
  private def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else {
        val kids = f.listFiles()
        if (kids == null) 0L else kids.iterator.map(walk).sum
      }
    walk(new java.io.File(path))
  }

  /** A versioned replace dir whose write COMMITTED. The authoritative
    * signal is the STORE-OWNED `_graft_committed` marker [[replace]]
    * writes after its parquet job returns: the committer's `_SUCCESS`
    * depends on `mapreduce.fileoutputcommitter.marksuccessfuljobs`
    * (default true but commonly disabled in deployments), and keying
    * recovery on it would make a fresh store's load() read EVERY live
    * version as torn — and destroy them. `_SUCCESS` is still accepted
    * for dirs written by pre-marker store versions. A crash mid-replace
    * leaves a dir with `_temporary` (or partial `part-` files) and
    * neither marker. Distinguishes torn from merely empty — a
    * legitimately-empty replace still commits its marker, where a
    * `part-` sniff would misread it as torn and resurrect the prior
    * version. */
  private def committed(path: String): Boolean =
    new java.io.File(path, "_graft_committed").isFile ||
      new java.io.File(path, "_SUCCESS").isFile

  /** Versioned replace dirs of `name` under the root, ascending
    * (version, path) — torn dirs included; callers filter by
    * [[committed]] when serving. */
  private def replaceDirs(name: String): Seq[(Long, String)] =
    seqDirs(root, s"$name-v")

  /** Current version of a replace-table, surviving restarts: a fresh
    * store instance over an existing root scans for `name-v*` so its
    * next replace continues the sequence (instead of clobbering v1
    * while v3 is live). Torn dirs COUNT here — the next replace must
    * write past a torn max, never into it. */
  private def currentVersion(name: String): Long =
    versions.getOrElseUpdate(name,
      replaceDirs(name).map(_._1).foldLeft(0L)(math.max))

  private def bucketDir(name: String, k: Int): String = s"$root/$name.m/b$k"
  private def ovfDir(name: String): String = s"$root/$name.m/ovf"

  /** Next file sequence of a table, surviving restarts (scans every
    * bucket dir and the overflow dir for the max seen sequence, so new
    * files always order after everything on disk — including per-bucket
    * sequences written by the pre-overflow store version). `_floor`
    * markers count: after GC a marker can be the only trace of its
    * sequence, and reissuing a sequence at or below a floor would make
    * the new delta invisible to resolution. */
  private def nextTableSeq(name: String): Long = {
    val cur = tableSeqs.getOrElseUpdate(name,
      ((0 until tableFanout(name)).map(bucketDir(name, _)) :+ ovfDir(name)).iterator
        .flatMap(d => (seqDirs(d, "base-v") ++ seqDirs(d, "d")).map(_._1) :+ readFloorMarker(d))
        .foldLeft(0L)(math.max))
    tableSeqs(name) = cur + 1L
    cur + 1L
  }

  // overflow sidecar: each overflow delta dir carries a `_buckets` file
  // (underscore-prefixed — parquet readers ignore it) listing the
  // buckets whose rows it holds, written into the staged dir BEFORE the
  // placing rename so file and manifest land atomically. Immutable once
  // placed → cached per path.
  private val ovfBucketCache =
    scala.collection.concurrent.TrieMap.empty[String, Set[Int]]
  private def ovfBuckets(path: String): Set[Int] =
    ovfBucketCache.getOrElseUpdate(path, {
      val f = new java.io.File(path, "_buckets")
      if (!f.isFile) Set.empty
      else new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
        .split(",").iterator.map(_.trim).filter(_.nonEmpty).map(_.toInt).toSet
    })

  /** A bucket whose compaction resolved to EMPTY has no base file to
    * carry its supersession floor; it persists the floor in a `_floor`
    * marker instead — without it, a delete-heavy bucket's consumed
    * delete rows would re-enter every cold resolution after a restart
    * and its shared overflow files could never GC (the manifest-vs-base
    * comparison would see no base forever). */
  private def readFloorMarker(dir: String): Long = {
    val f = new java.io.File(dir, "_floor")
    if (!f.isFile) -1L
    else try new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLong
    catch { case scala.util.control.NonFatal(_) => -1L }
  }

  private def writeFloorMarker(dir: String, seq: Long): Unit = {
    new java.io.File(dir).mkdirs(): Unit
    java.nio.file.Files.write(new java.io.File(dir, "_floor").toPath,
      seq.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** Resolution floor of a bucket: every file at or below it is
    * superseded — the newest base's sequence, or the `_floor` marker an
    * empty-resolution compaction left in lieu of a base. */
  private def bucketFloor(dir: String, base: Option[(Long, String)]): Long =
    math.max(base.fold(-1L)(_._1), readFloorMarker(dir))

  /** Live (post-floor) deltas, newest base and floor of a bucket dir or
    * of the overflow dir, from ONE listing — the compaction trigger
    * counts these deltas, and resolution reads only these (files older
    * than the newest base/floor linger one trigger for retention but are
    * excluded from reads). The same listing refuses a `t<seq>` dir: an
    * earlier store version wrote a merge's delete keys there as a
    * separate tombstone file kind, and resolving without them would
    * silently resurrect the deleted keys. */
  private def liveParts(dir: String): (Seq[(Long, String)], Option[(Long, String)], Long) = {
    val names = subdirs(dir)
    val tombs = seqDirs(dir, names, "t").map(_._2)
    if (tombs.nonEmpty)
      throw new IllegalStateException(
        s"merged-table dir $dir holds tombstone dirs (${tombs.mkString(", ")}) " +
          "from a store version that wrote deletes as a separate file kind; " +
          "re-materialize the table before resuming — refusing to resolve " +
          "without its deletes")
    val base = seqDirs(dir, names, "base-v").filter(p => hasData(p._2)).lastOption
    val floor = bucketFloor(dir, base)
    (seqDirs(dir, names, "d").filter(p => p._1 > floor && hasData(p._2)), base, floor)
  }

  /** Bucket k's live local deltas, the live shared overflow deltas that
    * carry rows for it, and its newest base. */
  private def bucketParts(name: String, k: Int)
      : (Seq[(Long, String)], Seq[(Long, String)], Option[(Long, String)]) = {
    val (ds, base, floor) = liveParts(bucketDir(name, k))
    val ods = liveParts(ovfDir(name))._1.filter(p => p._1 > floor && ovfBuckets(p._2)(k))
    (ds, ods, base)
  }

  /** Resolve ONE bucket: last-writer-wins per key group across its base
    * + deltas (max file sequence), with delete rows PARTICIPATING in the
    * sequence order — a key is live iff its newest upsert file is
    * strictly newer than its newest delete row, so deletion and
    * re-insertion interleave correctly. One window over the file
    * sequence computes both maxima. Returns None for a bucket with no
    * live data files; a bucket with only a base resolves to the plain
    * base read (no window — this is what makes untouched buckets free). */
  private def resolveBucket(spark: SparkSession, name: String,
                            k: Int): Option[DataFrame] = {
    val (ds, ods, base) = bucketParts(name, k)
    if (ds.isEmpty && ods.isEmpty) return base.map(b => spark.read.parquet(b._2))
    coldWindowCount.incrementAndGet(): Unit
    val keyCols = readKeys(name).getOrElse(
      throw new IllegalStateException(s"merged table $name has no _keys marker"))
    // a base, like a delta written before the `_del` flag, holds upserts only
    def leg(seq: Long, df: DataFrame): DataFrame =
      (if (df.columns.contains("_del")) df else df.withColumn("_del", lit(false)))
        .withColumn("_mseq", lit(seq))
    // shared overflow files are filtered to the bucket's slice on read
    // (`_gb` is a physical column there)
    val all = ((base.toSeq ++ ds).map { case (s, p) => leg(s, spark.read.parquet(p)) } ++
      ods.map { case (s, p) =>
        leg(s, spark.read.parquet(p).filter(col("_gb") === k).drop("_gb")) })
      .reduce(_ unionByName _)
    val w = Window.partitionBy(keyCols.map(col): _*)
    Some(all.withColumn("_mup", max(when(!col("_del"), col("_mseq"))).over(w))
      .withColumn("_mdel", max(when(col("_del"), col("_mseq"))).over(w))
      .filter(!col("_del") && col("_mseq") === col("_mup") &&
        (col("_mdel").isNull || col("_mup") > col("_mdel")))
      .drop("_del", "_mseq", "_mup", "_mdel"))
  }

  /** Union legs for the given buckets' current tables (no checkpoint):
    * cached buckets scan each shared tagged ancestor ONCE (grouped isin
    * filter — never one pass per bucket); the rest resolve lazily
    * (plain base reads for delta-free buckets, the merge-on-read window
    * for post-restart buckets that [[merge]] hasn't materialized yet). */
  private def assembleLegs(spark: SparkSession, name: String,
                           ks: Seq[Int]): Seq[DataFrame] = {
    val (cached, uncached) = ks.partition(k => bucketCache.contains((name, k)))
    val ancestorLegs = cached.groupBy(k => bucketCache((name, k))).toSeq
      .map { case (anc, bs) =>
        anc.filter(col("_gb").isin(bs.map(Int.box): _*)).drop("_gb")
      }
    ancestorLegs ++ uncached.flatMap(k => resolveBucket(spark, name, k))
  }

  /** True when bucket k's current resolution is NOT backed by either the
    * cache or a plain base file — i.e. serving it would re-run the MoR
    * window. [[merge]] checkpoints exactly these (touched buckets this
    * trigger, plus post-restart buckets with live deltas). */
  private def needsMaterialize(name: String, k: Int): Boolean =
    !bucketCache.contains((name, k)) && {
      val (ds, ods, _) = bucketParts(name, k)
      ds.nonEmpty || ods.nonEmpty
    }

  /** Merged tables record their key columns in a `_keys` marker file so
    * a RESTARTED store can resolve them in [[load]] before the caller's
    * first merge supplies the key list. */
  private def keyMarker(name: String): java.io.File =
    new java.io.File(s"$root/$name.m/_keys")

  private def writeKeys(name: String, keyCols: Seq[String]): Unit = {
    val f = keyMarker(name)
    if (!f.exists()) {
      java.nio.file.Files.write(f.toPath,
        keyCols.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    }
  }

  private def readKeys(name: String): Option[Seq[String]] = {
    val f = keyMarker(name)
    if (!f.exists()) None
    else Some(new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8).split("\n").toSeq.filter(_.nonEmpty))
  }

  /** The fanout a merged table was CREATED with, persisted in a
    * `_fanout` marker — a restarted store (possibly constructed with a
    * different default) must route keys to the same buckets. A table
    * root holding pre-bucketing (flat-layout) `d*`/`t*`/`base-v*` dirs
    * with no marker fails LOUDLY instead of silently serving an empty
    * table (stamping a fresh marker would make the bucket scan skip the
    * legacy dirs — for a curation twin that also discards the replay
    * guard, so redelivered batches would double-ingest). */
  private def tableFanout(name: String): Int = {
    val dir = s"$root/$name.m"
    val f = new java.io.File(s"$dir/_fanout")
    if (f.exists())
      new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim.toInt
    else {
      val legacy = (seqDirs(dir, "base-v") ++ seqDirs(dir, "d") ++ seqDirs(dir, "t"))
        .map(_._2)
      if (legacy.nonEmpty)
        throw new IllegalStateException(
          s"merged table $name at $dir holds flat-layout dirs " +
            s"(${legacy.map(_.split('/').last).mkString(", ")}) from a " +
            "pre-bucketing store version; migrate them into bucket dirs " +
            "(or re-materialize the table) before resuming — refusing to " +
            "silently serve an empty table")
      java.nio.file.Files.write(f.toPath,
        fanout.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      fanout
    }
  }

  private def pendingRmMarker(name: String): java.io.File =
    new java.io.File(s"$root/$name.m/_pending_rm")

  /** Release files consumed by the PREVIOUS merge's compactions — they
    * are now past their retention window. Reads the persisted marker
    * (not just the in-memory list) so a JVM restart between compaction
    * and next merge doesn't leak the consumed files. */
  private def gcPending(name: String): Unit = {
    pendingRm.remove(name): Unit
    val f = pendingRmMarker(name)
    if (f.exists()) {
      new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").iterator.map(_.trim).filter(_.nonEmpty)
        // paths are stored root-relative; refuse anything that escapes
        .filter(p => !p.contains(".."))
        .foreach(p => rm(s"$root/$p"))
      f.delete(): Unit
    }
  }

  private def schedulePendingRm(name: String, consumed: Seq[String]): Unit =
    if (consumed.nonEmpty) {
      val rel = consumed.map(_.stripPrefix(s"$root/"))
      pendingRm(name) = rel
      java.nio.file.Files.write(pendingRmMarker(name).toPath,
        rel.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    }

  override def append(name: String, delta: DataFrame): DataFrame = synchronized {
    val dir = s"$root/$name"
    delta.write.mode("append").parquet(dir)
    delta.sparkSession.read.parquet(dir)
  }

  override def merge(name: String, keyCols: Seq[String], rawUpserts: DataFrame,
                     deleteKeys: Option[DataFrame]): DataFrame = synchronized {
    val spark = rawUpserts.sparkSession
    val dir = s"$root/$name.m"
    new java.io.File(dir).mkdirs()
    // deferred GC: files consumed by the PREVIOUS merge's compactions
    // are now past their retention window
    phase("gc")(gcPending(name))
    writeKeys(name, keyCols)
    val n = tableFanout(name)
    val keyed = keyCols.map(col)
    val route = pmod(xxhash64(keyed: _*), lit(n.toLong)).cast("int")
    // delete-wins on an upsert/delete key overlap (contract violation):
    // dropping the overlapping upsert rows BEFORE staging keeps the warm
    // incremental fold, the cold file-level window and the in-memory
    // store all uniform — a violating caller can no longer get state
    // that depends on whether a restart happened
    val upserts = deleteKeys.fold(rawUpserts)(d =>
      rawUpserts.join(d.select(keyed: _*), keyCols, "left_anti"))
    // the merge's ONE delta: upsert rows and delete keys (nulls in the
    // non-key columns), told apart by the `_del` flag
    val flagged = upserts.withColumn("_del", lit(false))
    val delta = deleteKeys.fold(flagged)(d => flagged.unionByName(
      d.select(keyed: _*).withColumn("_del", lit(true)), allowMissingColumns = true))

    // stage the update-mass write ONCE, UNPARTITIONED, on the calling
    // thread, with the routing bucket as a physical `_gb` column (sorted
    // within partitions so row-group stats prune per-bucket reads). One
    // writer + a handful of files regardless of how the keys spray — the
    // r14 fanout curve measured the old per-bucket partitionBy stage as
    // the dominant linear term of a spraying trigger (one writer + one
    // file PER TOUCHED BUCKET: 0.38s → 1.16s from fanout 16 → 128).
    // Whether the staged rows then land as one shared overflow delta or
    // re-split into per-bucket files is the PLACE phase's size-based
    // decision.
    val sdir = s"$dir/stage"
    val touched: Seq[Int] = phase("stage") {
      rm(sdir)
      // the touched-bucket set rides an accumulator THROUGH the write
      // job, so staging stays exactly one Spark job; a distinct()
      // read-back would put two extra driver round-trips in every
      // trigger. The accumulator holds a SET per task (true set
      // semantics — idempotent under task retries AND the possible
      // sortWithinPartitions re-eval), so each task result ships at
      // most fanout ints and the driver holds O(buckets), never
      // O(rows) — a bulk backfill merge can't OOM the driver through
      // its own instrumentation.
      val acc = new ParquetTwinStore.BucketSetAccumulator
      spark.sparkContext.register(acc, "graft-touched")
      val recordGb = udf { (g: Int) => acc.add(g); g }
      delta.withColumn("_gb", recordGb(route)).sortWithinPartitions("_gb")
        .write.mode("overwrite").parquet(sdir)
      acc.value.toSeq.sorted
    }
    val touchedSet = touched.toSet
    // the PRIOR resolution of the touched buckets, captured before the
    // new files land. Warm path (every trigger after a bucket's first
    // touch): grouped slices of the cached tagged ancestors — ONE scan
    // per ancestor, so a spraying update reads the prior state once,
    // not once per bucket. Cold path (first touch after a restart): the
    // lazy file-level MoR window, paid once inside the batched
    // checkpoint below.
    val (warmTouched, coldTouched) =
      touched.partition(k => bucketCache.contains((name, k)))
    val warmLegs: Seq[DataFrame] =
      warmTouched.groupBy(k => bucketCache((name, k))).toSeq.map {
        case (anc, bs) => anc.filter(col("_gb").isin(bs.map(Int.box): _*))
      }
    val coldLegs: Seq[DataFrame] = coldTouched.flatMap(k =>
      resolveBucket(spark, name, k).map(_.withColumn("_gb", lit(k))))
    // INCREMENTAL resolution of the touched buckets: fold the just-staged
    // delta into the prior resolutions — prior rows whose key appears in
    // the update (upsert OR delete) anti-join out, the upsert rows union
    // in (the InMemoryTwinStore.merge shape). Routing sends each key to
    // exactly one bucket, so ONE global anti-join over the tagged prior
    // union equals the per-bucket folds — the whole fold is one map-side
    // pass (broadcast update keys) over the prior state: no base/delta
    // re-read, no merge-on-read window, regardless of how the keys spray.
    // The update reads the ONE staged dir — never one read leg per
    // bucket, which would put fanout-many tiny scans in every trigger's
    // plan — with the schema it was written with, so the read runs no
    // schema-inference job.
    val staged: Option[DataFrame] =
      if (touched.isEmpty) None
      else Some(spark.read.schema(delta.schema.add("_gb", "int")).parquet(sdir))
    val priorTagged: Option[DataFrame] =
      (warmLegs ++ coldLegs).reduceOption(_ unionByName _)
    // SIZE-GATED broadcast of the update keys: per-trigger update sets
    // are micro-batch-sized and broadcast is the right plan — but a
    // BULK caller (backfill, migration) merging table-mass updates
    // would ship the whole key set to every executor and OOM them. The
    // gate measures what actually broadcasts — the KEY columns' bytes
    // from the just-written staged parquet's footers: past
    // `broadcastKeyBytes` (default [[ParquetTwinStore.BroadcastKeyBytes]])
    // the fold falls back to a plain (shuffle/AQE-planned) anti-join.
    val foldedTagged: Option[DataFrame] = staged.map { st =>
      val gone = st.select(keyed: _*).distinct()
      val goneGated =
        if (stagedKeyBytes(spark, sdir, keyCols) <= broadcastKeyBytes) broadcast(gone) else gone
      (priorTagged.map(_.join(goneGated, keyCols, "left_anti")).toSeq :+
        st.filter(!col("_del")).drop("_del")).reduce(_ unionByName _)
    }
    // post-restart buckets carrying live deltas but untouched this merge:
    // resolve through the file-level window once, batched with the fold
    val coldUntouched: Seq[(Int, DataFrame)] = phase("resolve_cold") {
      (0 until n).filterNot(touchedSet)
        .filter(k => needsMaterialize(name, k))
        .map(k => k -> resolveBucket(spark, name, k).get)
    }

    // ONE batched localCheckpoint materializes the fold + cold resolves:
    // per-trigger disk I/O stays update-mass (the staged write above);
    // this in-memory re-materialization of the touched buckets is the
    // only state-proportional term, bounded per bucket by the fanout.
    // COALESCED to the session's shuffle-partition count: the fold
    // unions the prior checkpoint with the staged reads, and an
    // un-coalesced checkpoint would accumulate their partitions every
    // trigger, so every later scan of the state (folds, compaction
    // writes, serving) would pay an ever-growing task count for the
    // same rows. The checkpoint runs BEFORE the staged partitions are
    // renamed into their buckets (it materializes the staged content,
    // so the files are free to move afterwards).
    val target = spark.sessionState.conf.numShufflePartitions
    val tagged: Option[DataFrame] = phase("checkpoint") {
      (foldedTagged.toSeq ++ coldUntouched.map { case (k, df) =>
          df.withColumn("_gb", lit(k)) })
        .reduceOption(_ unionByName _)
        .map(_.coalesce(target).localCheckpoint())
    }
    val materialized: Seq[Int] =
      if (tagged.isEmpty) Seq.empty
      else touched ++ coldUntouched.map(_._1)

    // place the staged partitions into their buckets (the durable form
    // of this merge — what a cold restart resolves through the window).
    // The bucketCache assignment is DEFERRED until the place phase
    // succeeds: assigning first would leave the in-memory cache claiming
    // post-merge state over pre-merge disk if a rename failed mid-place,
    // and a caller that catches and keeps merging would fold (and
    // eventually compact into a durable base) phantom rows. On a place
    // failure the touched buckets' cache entries are INVALIDATED instead
    // (disk may hold a partial placement; the next access re-resolves
    // each bucket through the file-level window over whatever landed).
    try phase("place") {
      if (touched.nonEmpty) {
        val seq = nextTableSeq(name)
        // SIZE-BASED placement: a spraying micro-batch (many touched
        // buckets, tiny per-bucket mass) lands as ONE shared OVERFLOW
        // delta — a plain rename of the staged dir, zero extra jobs and
        // zero per-bucket files (the r14 curve's 10-15 ms/bucket fixed
        // term, gone). A BULK merge (per-bucket mass at or above
        // `overflowBytes`) re-splits into per-bucket files so a later
        // cold resolution of one bucket never scans a giant shared file.
        if (dirBytes(sdir) < overflowBytes.toDouble * touched.size) {
          new java.io.File(ovfDir(name)).mkdirs(): Unit
          // the `_buckets` manifest rides INSIDE the staged dir so the
          // rename lands data + manifest atomically
          java.nio.file.Files.write(new java.io.File(sdir, "_buckets").toPath,
            touched.mkString(",").getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
          require(new java.io.File(sdir).renameTo(new java.io.File(s"${ovfDir(name)}/d$seq")),
            s"failed to place overflow delta for $name")
        } else {
          val pdir = s"$sdir.p"
          rm(pdir)
          staged.get.write.partitionBy("_gb").mode("overwrite").parquet(pdir)
          for (k <- touched) {
            val bdir = new java.io.File(bucketDir(name, k))
            bdir.mkdirs(): Unit
            val src = new java.io.File(s"$pdir/_gb=$k")
            if (src.isDirectory)
              require(src.renameTo(new java.io.File(s"${bdir.getPath}/d$seq")),
                s"failed to place delta for bucket $k of $name")
          }
          rm(pdir); rm(sdir)
        }
      }
    } catch { case e: Throwable =>
      touched.foreach(k => bucketCache.remove((name, k)): Unit)
      throw e
    }
    tagged.foreach(t => materialized.foreach(k => bucketCache((name, k)) = t))

    // BUCKET-LOCAL compaction: a bucket past MaxDeltas live deltas folds
    // its (already-checkpointed) resolution into a fresh base — written
    // to a temp dir and RENAMED into place, so a crash mid-write cannot
    // leave a torn base masking still-live older deltas; consumed files
    // go to the PERSISTED deferred-GC list, not the floor (held
    // DataFrames from the previous trigger must survive this one)
    phase("compact") {
      val consumed = Seq.newBuilder[String]
      // a bucket compacts when its live delta count (bucket-local files
      // PLUS shared overflow files carrying its rows) crosses MaxDeltas;
      // additionally, when the overflow dir itself holds MaxDeltas live
      // files, EVERY bucket with live overflow rows compacts — draining
      // the shared files so a straggler bucket (one overflow row, then
      // never touched again) can't pin them forever. A shared file is
      // only GC'd once every bucket it carries has a newer base. Every
      // merge is one delta, so a delete-only workload drains like any
      // other; a bucket whose deltas hold only deletes resolves EMPTY
      // and compacts to a `_floor` marker.
      val drainOvf = liveParts(ovfDir(name))._1.size >= MaxDeltas
      val compacting = (0 until tableFanout(name)).filter { k =>
        bucketCache.contains((name, k)) && {
          val (ds, odsK, _) = bucketParts(name, k)
          ds.length + odsK.length >= MaxDeltas || (drainOvf && odsK.nonEmpty)
        }
      }
      val baseSeq = if (compacting.isEmpty) -1L else nextTableSeq(name)
      if (compacting.nonEmpty) {
        // every compacting bucket's resolution is a slice of an
        // already-checkpointed tagged ancestor (this merge's for
        // touched/cold buckets, an earlier one for warm untouched
        // buckets swept in by the overflow drain), so ONE partitionBy
        // job per shared ancestor stages all the new bases — never a
        // write job per bucket — and each staged partition renames into
        // its bucket atomically (a crash mid-write leaves only the
        // ignored stage dir, never a torn base masking live deltas)
        val cdir = s"$dir/stage-c"
        rm(cdir)
        compacting.groupBy(k => bucketCache((name, k))).toSeq
          .map { case (anc, bs) =>
            anc.filter(col("_gb").isin(bs.map(Int.box): _*)) }
          .reduce(_ unionByName _)
          .write.partitionBy("_gb").mode("overwrite").parquet(cdir)
        for (k <- compacting) {
          val bdir = bucketDir(name, k)
          new java.io.File(bdir).mkdirs(): Unit
          val (ds, base, _) = liveParts(bdir)
          val src = new java.io.File(s"$cdir/_gb=$k")
          // a bucket whose resolution is EMPTY stages no partition dir:
          // consuming its files with no replacement base is exactly
          // right (the empty resolution IS the bucket's state) — but
          // the supersession floor must still persist, so the `_floor`
          // marker stands in for the base it didn't write (restart
          // reads skip the consumed files; overflow GC can retire
          // shared files this bucket rides)
          if (src.isDirectory)
            require(src.renameTo(new java.io.File(s"$bdir/base-v$baseSeq")),
              s"failed to commit compacted base for bucket $k of $name")
          else writeFloorMarker(bdir, baseSeq)
          consumed ++= (base.toSeq ++ ds).map(_._2)
        }
        rm(cdir)
      }
      // overflow GC: a shared file is dead once EVERY bucket in its
      // `_buckets` manifest has a base (or `_floor` marker) newer than
      // it (its rows are all superseded); it then rides the same
      // deferred-GC retention window as bucket-local files
      val floorOf = scala.collection.mutable.Map.empty[Int, Long]
      def baseFloor(k: Int): Long =
        floorOf.getOrElseUpdate(k, liveParts(bucketDir(name, k))._3)
      for (p <- seqDirs(ovfDir(name), "d")) {
        val bs = ovfBuckets(p._2)
        if (bs.nonEmpty && bs.forall(k => baseFloor(k) > p._1))
          consumed += p._2
      }
      schedulePendingRm(name, consumed.result())
    }

    // the full current table: the buckets materialized THIS merge ride
    // as ONE union leg (the batched checkpoint itself — in the common
    // spraying-update case that's the whole plan, not a fanout-way
    // union of filtered views); other buckets union in through
    // assembleLegs (one scan per shared cached ancestor, plain base
    // reads for delta-free buckets); empty-table degenerate case — the
    // empty upsert frame carries the right schema
    val matSet = materialized.toSet
    val parts = tagged.map(_.drop("_gb")).toSeq ++
      assembleLegs(spark, name, (0 until n).filterNot(matSet))
    if (parts.isEmpty) upserts else parts.reduce(_ unionByName _)
  }

  override def replace(name: String, df: DataFrame): DataFrame = synchronized {
    val v = currentVersion(name) + 1L
    df.write.mode("overwrite").parquet(s"$root/$name-v$v")
    // the store-owned commit point: written only after the parquet job
    // returned, independent of the committer's marksuccessfuljobs config
    // (see [[committed]])
    java.nio.file.Files.write(
      new java.io.File(s"$root/$name-v$v", "_graft_committed").toPath,
      Array.emptyByteArray): Unit
    versions(name) = v
    // retention: keep this version plus the newest COMMITTED predecessor
    // (the previous trigger's table, alive until the next replace).
    // Everything else — older versions AND any torn dir a crash
    // mid-replace stranded (only `_temporary`, no `_SUCCESS`) — is
    // removed here, so recovery debris never accumulates past one
    // replace on the same table.
    val dirs = replaceDirs(name)
    val keep = dirs.filter(p => p._1 < v && committed(p._2))
      .lastOption.map(_._1).toSet + v
    dirs.filterNot(p => keep(p._1)).foreach(p => rm(p._2))
    df.sparkSession.read.parquet(s"$root/$name-v$v")
  }

  override def load(spark: SparkSession, name: String): Option[DataFrame] =
    synchronized {
      val mergedDir = new java.io.File(s"$root/$name.m")
      if (mergedDir.isDirectory) {
        // lazy per-bucket resolution; the next merge on the table
        // materializes (and caches) exactly the buckets carrying live
        // deltas, so a restarted twin pays the window once, batched
        val n = tableFanout(name)
        val parts = assembleLegs(spark, name, 0 until n)
        if (parts.isEmpty) None else Some(parts.reduce(_ unionByName _))
      } else {
        // a COMMITTED versioned replace table SUPERSEDES a legacy plain
        // append dir of the same name: the only way both exist is a verb
        // migration (e.g. the annDeleted ledger moved from append to
        // horizon-bounded replace), and serving the stale append dir
        // would silently resurrect the pre-migration contents on every
        // restart. A crash mid-replace leaves the NEWEST version torn
        // (no commit marker): serve the newest committed version instead
        // — the torn trigger never committed, so the prior version IS
        // the state as of the last committed trigger — and remove torn
        // dirs STRICTLY OLDER than it (they can never commit: versions
        // are monotone). A torn dir NEWER than the newest committed
        // version is left alone: it may be a concurrent replace()'s
        // in-flight `_temporary` on a shared root, and rm'ing it would
        // fail that writer's job mid-rename.
        val dirs = replaceDirs(name)
        val live = dirs.filter(p => committed(p._2)).lastOption
        live.foreach { case (lv, _) =>
          dirs.filter(p => p._1 < lv && !committed(p._2)).foreach(p => rm(p._2))
        }
        live match {
          case Some((_, path)) => Some(spark.read.parquet(path))
          case None =>
            val plain = new java.io.File(s"$root/$name")
            if (plain.isDirectory) Some(spark.read.parquet(plain.getPath)) else None
        }
      }
    }
}

object ParquetTwinStore {
  /** Per-task distinct-bucket accumulator: tasks add routed bucket ids,
    * each task result ships one Set ≤ fanout, the driver merges sets —
    * O(buckets) end to end. Duplicate adds (task retries, expression
    * re-evaluation) are no-ops by construction. */
  final class BucketSetAccumulator
      extends org.apache.spark.util.AccumulatorV2[Int, Set[Int]] {
    private val set = scala.collection.mutable.Set.empty[Int]
    override def isZero: Boolean = set.isEmpty
    override def copy(): BucketSetAccumulator = {
      val c = new BucketSetAccumulator; c.set ++= set; c
    }
    override def reset(): Unit = set.clear()
    override def add(v: Int): Unit = set += v
    override def merge(o: org.apache.spark.util.AccumulatorV2[Int, Set[Int]]): Unit =
      set ++= o.value
    override def value: Set[Int] = set.toSet
  }

  /** Live-delta count that triggers a BUCKET-LOCAL compaction: a
    * bucket's per-trigger cost stays update-mass for `MaxDeltas - 1`
    * touches, then one touch pays the (amortized) bucket-mass fold. */
  val MaxDeltas = 8

  /** Staged KEY-column byte size past which [[ParquetTwinStore.merge]]
    * stops BROADCASTING the update key set into the incremental fold's
    * anti-join and lets the planner (AQE) pick the join strategy.
    * Per-trigger streaming updates are micro-batch-sized and sit far
    * under this; the gate exists for bulk backfill/migration merges
    * whose key sets would otherwise ship to every executor. Measured
    * from the staged parquet's footers (key column chunks only), so a
    * wide-row batch — embedding vectors, document bodies — doesn't
    * trip it while its key set is tiny. Parquet bytes understate
    * in-memory key mass by ~2-5x, so 64 MiB of keys keeps the
    * broadcast comfortably under typical executor headroom. */
  val BroadcastKeyBytes: Long = 64L << 20

  /** Average staged bytes PER TOUCHED BUCKET below which a merge's
    * update lands as ONE shared OVERFLOW delta (a rename of the staged
    * dir, `_gb` kept as a physical column + a `_buckets` manifest)
    * instead of per-bucket files. This is what amortizes the r14 fanout
    * curve's 10-15 ms/touched-bucket/trigger fixed term: a spraying
    * micro-batch pays one writer + one file regardless of fanout, and
    * the shared file is folded/compacted/GC'd like any delta (see the
    * place + compact phases). Above the floor — bulk backfills,
    * migrations — the update re-splits into per-bucket files so a cold
    * single-bucket resolution never scans a giant multi-bucket file. */
  val OverflowBytes: Long = 1L << 20

  /** Default merged-table fanout. Small for the test/probe scale; a
    * cluster deployment sizes it like any bucketed table (state mass /
    * target bucket size, e.g. one bucket per 256 MiB) — the marker file
    * makes per-table fanout a creation-time choice, not a code constant. */
  val NumBuckets = 16
}
