package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.SparkSpec

/**
 * Pins the [[TwinStore]] merge verb — the keyed Delta-MERGE stand-in —
 * on BOTH implementations: upsert-replaces whole key groups, deletes,
 * re-insertion after deletion (sequence-ordered tombstones), multi-row
 * key groups, parquet compaction past MaxDeltas, the deferred-GC
 * retention window, and restart recovery of the merge sequence.
 */
class TwinStoreSpec extends SparkSpec {

  import spark.implicits._

  private def rows(df: DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  private def kv(pairs: (Long, String)*): DataFrame =
    pairs.toSeq.toDF("id", "v")

  private def keys(ids: Long*): DataFrame = ids.toSeq.toDF("id")

  private def stores(): Seq[(String, TwinStore)] = Seq(
    "in-memory" -> new InMemoryTwinStore,
    "parquet" -> new ParquetTwinStore(
      java.nio.file.Files.createTempDirectory("graft-tsspec").toString))

  test("merge: upsert replaces the key group, delete removes, others untouched") {
    for ((label, st) <- stores()) {
      st.merge("t", Seq("id"), kv(1L -> "a", 2L -> "b", 3L -> "c"), None)
      val cur = st.merge("t", Seq("id"), kv(2L -> "B"), Some(keys(3L)))
      assert(rows(cur) == Set((1L, "a"), (2L, "B")), s"[$label]")
    }
  }

  test("merge: a deleted key can re-enter on a later merge (tombstones are sequence-ordered)") {
    for ((label, st) <- stores()) {
      st.merge("t", Seq("id"), kv(1L -> "a", 2L -> "b"), None)
      st.merge("t", Seq("id"), kv(), Some(keys(1L)))
      val cur = st.merge("t", Seq("id"), kv(1L -> "a2"), None)
      assert(rows(cur) == Set((1L, "a2"), (2L, "b")), s"[$label]")
    }
  }

  test("merge: an upsert/delete key OVERLAP resolves delete-wins, uniformly across stores and restarts") {
    // the trait contract asks for disjoint key sets, but a violating
    // caller must get ONE semantic everywhere — before this pin, the
    // parquet warm fold gave upsert-wins while the cold file window
    // (same-seq tombstone authoritative) gave tombstone-wins, so state
    // silently depended on whether a restart had happened
    for ((label, st) <- stores()) {
      st.merge("t", Seq("id"), kv(1L -> "a", 2L -> "b"), None)
      val cur = st.merge("t", Seq("id"), kv(1L -> "A", 3L -> "c"), Some(keys(1L)))
      assert(rows(cur) == Set((2L, "b"), (3L, "c")), s"[$label] warm overlap must be delete-wins")
    }
    // the parquet COLD path (restart, file-level window) agrees
    val root = java.nio.file.Files.createTempDirectory("graft-tsoverlap").toString
    val pq = new ParquetTwinStore(root, 2)
    pq.merge("t", Seq("id"), kv(1L -> "a", 2L -> "b"), None)
    pq.merge("t", Seq("id"), kv(1L -> "A", 3L -> "c"), Some(keys(1L)))
    assert(rows(new ParquetTwinStore(root).load(spark, "t").get)
      == Set((2L, "b"), (3L, "c")), "cold-window overlap must be delete-wins")
  }

  test("parquet merge: past the broadcast gate the fold takes the shuffle anti-join and stays correct") {
    // the update-key broadcast is size-gated (a bulk backfill must not
    // ship its whole key set to every executor); a 1-byte threshold
    // forces EVERY merge down the shuffle path — results must be
    // byte-identical to the broadcast path's
    val root = java.nio.file.Files.createTempDirectory("graft-tsgate").toString
    val st = new ParquetTwinStore(root, 2, broadcastKeyBytes = 1L)
    st.merge("t", Seq("id"), kv(1L -> "a", 2L -> "b", 3L -> "c"), None)
    val cur = st.merge("t", Seq("id"), kv(2L -> "B"), Some(keys(3L)))
    assert(rows(cur) == Set((1L, "a"), (2L, "B")), "shuffle-path fold diverged")
    val cur2 = st.merge("t", Seq("id"), kv(3L -> "c2"), None)
    assert(rows(cur2) == Set((1L, "a"), (2L, "B"), (3L, "c2")),
      "shuffle-path re-insert diverged")
  }

  test("load: a versioned replace table supersedes a legacy plain append dir (verb migration)") {
    // the annDeleted ledger migrated from the append verb (plain dir)
    // to horizon-bounded replace (versioned dirs); a restarted store
    // must resume from the newest REPLACE, not keep serving the stale
    // append dir forever
    val root = java.nio.file.Files.createTempDirectory("graft-tsmig").toString
    val st = new ParquetTwinStore(root)
    st.append("t", kv(1L -> "legacy"))
    st.replace("t", kv(2L -> "migrated"))
    assert(rows(new ParquetTwinStore(root).load(spark, "t").get)
      == Set((2L, "migrated")), "restart must resume the replace table")
  }

  test("replace: a torn versioned dir (crash mid-replace) recovers to the newest committed version") {
    val root = java.nio.file.Files.createTempDirectory("graft-tstorn").toString
    val st = new ParquetTwinStore(root)
    st.replace("t", kv(1L -> "v1"))
    st.replace("t", kv(1L -> "v2"))
    // simulate a crash mid-replace: a NEWER versioned dir holding only
    // the committer's _temporary scratch — no part- files, no _SUCCESS
    val torn = new java.io.File(s"$root/t-v3/_temporary")
    assert(torn.mkdirs())
    java.nio.file.Files.write(new java.io.File(torn, "junk").toPath,
      "x".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val fresh = new ParquetTwinStore(root)
    assert(rows(fresh.load(spark, "t").get) == Set((1L, "v2")),
      "recovery must serve the newest COMMITTED version, not throw on the torn dir")
    // a torn dir NEWER than the newest committed version is LEFT ALONE
    // by load (it is indistinguishable from a concurrent replace()'s
    // in-flight write on a shared root — rm'ing it would fail that
    // writer mid-job); it is never served, and the next replace's
    // writer-owned retention sweep removes it
    assert(new java.io.File(s"$root/t-v3").exists(),
      "load must not rm a torn dir newer than the newest committed version " +
        "(it may be a concurrent writer's in-flight job)")
    // the next incarnation's replace continues the sequence PAST the
    // torn version, and its retention leaves exactly the new version +
    // one committed predecessor (the torn dir goes with the sweep)
    val next = new ParquetTwinStore(root)
    next.replace("t", kv(1L -> "v4"))
    assert(rows(new ParquetTwinStore(root).load(spark, "t").get) == Set((1L, "v4")))
    val vdirs = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("t-v")).map(_.getName).toSet
    assert(vdirs == Set("t-v2", "t-v4"),
      s"retention must keep the new version + newest committed predecessor, got $vdirs")
  }

  test("replace: recovery works with the committer's _SUCCESS markers absent (marksuccessfuljobs off)") {
    // deployments commonly disable mapreduce.fileoutputcommitter
    // .marksuccessfuljobs; recovery keyed on _SUCCESS alone would then
    // read EVERY live version as torn — and a load() would serve the
    // stale legacy dir (or None) while destroying the real state. The
    // store owns its commit point (_graft_committed) exactly so this
    // cannot happen.
    val root = java.nio.file.Files.createTempDirectory("graft-tsnosucc").toString
    val st = new ParquetTwinStore(root)
    st.replace("t", kv(1L -> "v1"))
    st.replace("t", kv(1L -> "v2"))
    for (d <- new java.io.File(root).listFiles(); if d.isDirectory) {
      val s = new java.io.File(d, "_SUCCESS")
      if (s.isFile) assert(s.delete())
    }
    assert(rows(new ParquetTwinStore(root).load(spark, "t").get) == Set((1L, "v2")),
      "recovery must serve through the store-owned commit marker alone")
    assert(new java.io.File(s"$root/t-v1").exists() && new java.io.File(s"$root/t-v2").exists(),
      "no committed version may be destroyed when _SUCCESS markers are absent")
  }

  test("replace: a torn FIRST replace falls back to the legacy append dir (migration crash)") {
    // the verb-migration crash window: the very first replace after a
    // table moves off the append verb dies mid-write — the plain dir IS
    // the state as of the last committed trigger and must still serve
    val root = java.nio.file.Files.createTempDirectory("graft-tstorn1").toString
    val st = new ParquetTwinStore(root)
    st.append("t", kv(1L -> "legacy"))
    assert(new java.io.File(s"$root/t-v1/_temporary").mkdirs())
    assert(rows(new ParquetTwinStore(root).load(spark, "t").get)
      == Set((1L, "legacy")),
      "with no committed version the pre-migration append dir must serve")
    // with NO committed version the torn dir stays (it may be the first
    // replace in flight on a shared root); the sequence continues past
    // it and the next replace's retention sweep removes it
    assert(new java.io.File(s"$root/t-v1").exists(),
      "load must not rm a torn dir it cannot prove dead")
    new ParquetTwinStore(root).replace("t", kv(2L -> "migrated"))
    assert(!new java.io.File(s"$root/t-v1").exists(),
      "the writer-owned retention sweep removes the torn first version")
    assert(rows(new ParquetTwinStore(root).load(spark, "t").get)
      == Set((2L, "migrated")))
  }

  test("merge: multi-row key groups are swapped whole") {
    for ((label, st) <- stores()) {
      // key 1 spans three rows (a doc's shingle set); the upsert replaces
      // the whole group with a two-row group
      st.merge("t", Seq("id"),
        kv(1L -> "s1", 1L -> "s2", 1L -> "s3", 2L -> "x"), None)
      val cur = st.merge("t", Seq("id"), kv(1L -> "n1", 1L -> "n2"), None)
      assert(rows(cur) == Set((1L, "n1"), (1L, "n2"), (2L, "x")), s"[$label]")
    }
  }

  test("parquet merge: compaction folds a bucket's deltas into a base and the result is unchanged") {
    val root = java.nio.file.Files.createTempDirectory("graft-tscompact").toString
    // fanout 1: every key lands in bucket b0, so MaxDeltas + 3 merges
    // are guaranteed to cross the compaction threshold
    val st = new ParquetTwinStore(root, 1)
    var expect = Map.empty[Long, String]
    var cur: DataFrame = null
    for (i <- 1 to ParquetTwinStore.MaxDeltas + 3) {
      val id = (i % 5).toLong
      expect += id -> s"v$i"
      cur = st.merge("t", Seq("id"), kv(id -> s"v$i"), None)
    }
    assert(rows(cur) == expect.map { case (k, v) => (k, v) }.toSet)
    val parts = new java.io.File(s"$root/t.m/b0").listFiles().map(_.getName)
    assert(parts.exists(_.startsWith("base-v")),
      s"compaction must have produced a base, saw ${parts.toSeq}")
    // live (post-compaction) delta count is bounded by MaxDeltas
    // regardless of how many merges ran — the bucket never accumulates
    // unbounded read amplification. (Consumed files linger one trigger
    // for the retention window, so count dirs NEWER than the base.)
    val baseSeq = parts.filter(_.startsWith("base-v")).map(_.drop(6).toLong).max
    val liveDeltas = parts.filter(n => n.startsWith("d") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong).count(_ > baseSeq)
    assert(liveDeltas < ParquetTwinStore.MaxDeltas,
      s"live deltas must reset at compaction, saw ${parts.toSeq}")
  }

  test("parquet merge: compaction is bucket-local — untouched buckets keep their files") {
    val root = java.nio.file.Files.createTempDirectory("graft-tsblocal").toString
    // overflow disabled: this pin is about the PER-BUCKET file path
    // (the overflow path's locality pin is the shared-file GC test)
    val st = new ParquetTwinStore(root, 4, overflowBytes = 0L)
    // seed many keys so several buckets hold data
    st.merge("t", Seq("id"), kv((0L until 64L).map(i => i -> s"seed$i"): _*), None)
    val before = (0 until 4).map(k =>
      Option(new java.io.File(s"$root/t.m/b$k").list()).fold(Set.empty[String])(_.toSet))
    assert(before.count(_.nonEmpty) >= 3, "seed should touch most buckets")
    // hammer ONE key (one bucket) straight through its compaction
    var cur: DataFrame = null
    for (i <- 1 to ParquetTwinStore.MaxDeltas + 3)
      cur = st.merge("t", Seq("id"), kv(7L -> s"hot$i"), None)
    val after = (0 until 4).map(k =>
      Option(new java.io.File(s"$root/t.m/b$k").list()).fold(Set.empty[String])(_.toSet))
    val changed = (0 until 4).count(k => before(k) != after(k))
    assert(changed == 1,
      s"only key 7's bucket may change, but ${changed} buckets did")
    val hot = (0 until 4).find(k => before(k) != after(k)).get
    assert(after(hot).exists(_.startsWith("base-v")),
      s"the hot bucket must have compacted, saw ${after(hot)}")
    // and the table is still correct: 64 seeds with key 7 overwritten
    assert(cur.count() == 64L)
    assert(rows(cur.filter(cur("id") === 7L)) ==
      Set((7L, s"hot${ParquetTwinStore.MaxDeltas + 3}")))
  }

  test("parquet merge: shared overflow deltas drain and GC once every carried bucket has a newer base") {
    // the spray path: tiny multi-bucket updates land as ONE shared
    // overflow file per trigger (no per-bucket fixed term); the drain
    // compaction plus manifest-based GC must keep the overflow file
    // count bounded while the resolved state stays exact
    val root = java.nio.file.Files.createTempDirectory("graft-tsovf").toString
    val st = new ParquetTwinStore(root, 4)
    val last = 2 * ParquetTwinStore.MaxDeltas + 2
    var cur: DataFrame = null
    for (i <- 1 to last)
      cur = st.merge("t", Seq("id"),
        kv((0L until 8L).map(k => k -> s"v$i-$k"): _*), None)
    assert(rows(cur) == (0L until 8L).map(k => k -> s"v$last-$k").toSet)
    val ovf = new java.io.File(s"$root/t.m/ovf")
    assert(ovf.isDirectory, "spray deltas must land in the shared overflow dir")
    assert((0 until 4).forall(k =>
      Option(new java.io.File(s"$root/t.m/b$k").list())
        .fold(true)(_.forall(_.startsWith("base-v")))),
      "a spraying trigger must not write per-bucket delta files")
    // one more merge applies the deferred GC; the live overflow count
    // stays bounded by the drain threshold
    cur = st.merge("t", Seq("id"), kv(0L -> "z"), None)
    val live = Option(ovf.list()).fold(0)(_.count(n =>
      (n.startsWith("d") || n.startsWith("t")) && n.drop(1).forall(_.isDigit)))
    assert(live <= ParquetTwinStore.MaxDeltas + 2,
      s"overflow files must drain and GC, saw $live live")
    // a fresh incarnation resolves the same state through the window
    assert(rows(new ParquetTwinStore(root, 4).load(spark, "t").get) == rows(cur))
  }

  test("parquet merge: a delete-only workload still drains, compacts and GCs its tombstones") {
    // before r16 the drain counted only 'd' files and the per-bucket
    // rule only deltas: a delete-heavy table accumulated ovf/t<seq>
    // files unboundedly — no compaction ever fired, every resolution
    // windowed over a growing tombstone set, and GC never ran because
    // no bucket got a newer base
    val root = java.nio.file.Files.createTempDirectory("graft-tsdel").toString
    val st = new ParquetTwinStore(root, 4)
    val n = 4 * ParquetTwinStore.MaxDeltas
    st.merge("t", Seq("id"), kv((0L until n.toLong).map(k => k -> s"v$k"): _*), None)
    var cur: DataFrame = null
    for (i <- 0 until n / 2)
      cur = st.merge("t", Seq("id"), kv(), Some(keys(2L * i, 2L * i + 1)))
    assert(cur.count() == 0L, "all keys deleted")
    cur = st.merge("t", Seq("id"), kv(), Some(keys(9999L))) // applies deferred GC
    val ovf = new java.io.File(s"$root/t.m/ovf")
    val live = Option(ovf.list()).fold(0)(_.count(f =>
      (f.startsWith("d") || f.startsWith("t")) && f.drop(1).forall(_.isDigit)))
    assert(live <= 2 * ParquetTwinStore.MaxDeltas + 2,
      s"tombstone files must drain and GC under a delete-only workload, saw $live live")
    assert(new ParquetTwinStore(root, 4).load(spark, "t").forall(_.count() == 0L),
      "cold restart must resolve the fully-deleted table as empty")
  }

  test("parquet merge: TOMBSTONE-ONLY buckets floor-mark, GC, and never mask later inserts") {
    // deletes of never-present keys: the buckets' deltas hold only
    // delete rows, so each resolves EMPTY and its compaction writes no
    // base — the `_floor` marker stands in for it, retiring the dead
    // delete rows (they can only mask OLDER upserts, and none exist)
    val root = java.nio.file.Files.createTempDirectory("graft-tstonly").toString
    val st = new ParquetTwinStore(root, 4)
    for (i <- 0 until 2 * ParquetTwinStore.MaxDeltas + 1)
      st.merge("t", Seq("id"), kv(), Some(keys(i.toLong)))
    st.merge("t", Seq("id"), kv(), Some(keys(10000L))): Unit // deferred GC
    val ovf = new java.io.File(s"$root/t.m/ovf")
    val live = Option(ovf.list()).fold(0)(_.count(f =>
      f.startsWith("d") && f.drop(1).forall(_.isDigit)))
    assert(live <= 2 * ParquetTwinStore.MaxDeltas + 2,
      s"dead tombstone files must GC, saw $live live")
    // a RESTARTED store must continue the sequence PAST the floor
    // markers (after GC a marker can be the only trace of its
    // sequence): an insert must be visible warm AND on a cold load —
    // a reissued sequence at or below the floor would silently hide it
    val st2 = new ParquetTwinStore(root, 4)
    assert(rows(st2.merge("t", Seq("id"), kv(5L -> "alive"), None))
      == Set((5L, "alive")), "warm insert after tombstone-only history")
    assert(rows(new ParquetTwinStore(root, 4).load(spark, "t").get)
      == Set((5L, "alive")),
      "cold load must see the insert — the restarted sequence must clear every _floor marker")
  }

  test("parquet merge: retention — a table returned at trigger T is readable through trigger T+1") {
    val root = java.nio.file.Files.createTempDirectory("graft-tsretain").toString
    // fanout 1 so the run drives straight through a compaction; at every
    // step, the PREVIOUS trigger's returned DataFrame must still execute
    // (deferred GC)
    val st = new ParquetTwinStore(root, 1)
    var held: DataFrame = null
    for (i <- 1 to ParquetTwinStore.MaxDeltas + 3) {
      val next = st.merge("t", Seq("id"), kv(i.toLong -> s"v$i"), None)
      if (held != null) assert(held.count() == (i - 1).toLong,
        s"the previous trigger's table must survive trigger $i")
      held = next
    }
  }

  test("parquet merge: deferred GC survives a restart (persisted _pending_rm)") {
    val root = java.nio.file.Files.createTempDirectory("graft-tsgc").toString
    val st = new ParquetTwinStore(root, 1)
    for (i <- 1 to ParquetTwinStore.MaxDeltas)
      st.merge("t", Seq("id"), kv(i.toLong -> s"v$i"), None)
    // the compaction just scheduled its consumed files; a NEW store over
    // the same root (simulating a JVM restart) must release them on its
    // first merge rather than leak them forever
    val marker = new java.io.File(s"$root/t.m/_pending_rm")
    assert(marker.exists(), "compaction must persist its deferred-GC list")
    val doomed = scala.io.Source.fromFile(marker).getLines().toList.filter(_.nonEmpty)
    assert(doomed.nonEmpty)
    val st2 = new ParquetTwinStore(root)
    val cur = st2.merge("t", Seq("id"), kv(99L -> "post"), None)
    assert(!marker.exists(), "the restarted store's merge must run the deferred GC")
    doomed.foreach(p => assert(!new java.io.File(s"$root/$p").exists(),
      s"consumed path $p must be deleted after the retention window"))
    assert(cur.count() == ParquetTwinStore.MaxDeltas + 1L)
  }

  test("parquet merge: bucket routing survives a restart with a DIFFERENT default fanout") {
    val root = java.nio.file.Files.createTempDirectory("graft-tsfan").toString
    val st = new ParquetTwinStore(root, 4)
    st.merge("t", Seq("id"), kv((0L until 32L).map(i => i -> s"a$i"): _*), None)
    // a restarted store constructed with another fanout must keep
    // routing by the table's persisted _fanout marker
    val st2 = new ParquetTwinStore(root, 16)
    val cur = st2.merge("t", Seq("id"), kv(5L -> "B"), Some(keys(6L)))
    val got = rows(cur)
    assert(got.size == 31 && got((5L, "B")) && !got.exists(_._1 == 6L))
    assert(!new java.io.File(s"$root/t.m/b7").isDirectory ||
      (0 until 16).forall(k => k < 4 || !new java.io.File(s"$root/t.m/b$k").isDirectory),
      "no bucket beyond the creation fanout may appear")
  }

  test("merge fuzz: random upsert/delete/re-insert sequences — parquet == in-memory == model, across compactions") {
    // the merge-on-read resolution (last-writer-wins per key group,
    // sequence-ordered tombstones, compaction folds, deferred GC) is
    // exactly where subtle bugs live; drive both stores through long
    // random op sequences and pin them to a plain Map model after EVERY
    // merge. Sequences are > 2*MaxDeltas so every run crosses at least
    // two compactions.
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val root = java.nio.file.Files.createTempDirectory(s"graft-tsfuzz$trial").toString
      // fanout 2: the 10-key space splits across two buckets and each
      // bucket still crosses its compaction threshold within the run,
      // so the fuzz exercises routing, table sequences AND compaction
      // in the same trajectory. Trial 2 disables the overflow floor so
      // the per-bucket placement path stays fuzzed; the other trials
      // run the default (tiny updates → shared overflow deltas + the
      // overflow drain). A MID-RUN restart swaps in a fresh incarnation
      // so the cold file-level window resolves a mixed bucket/overflow
      // layout and the run then continues warm on top of it.
      def mkStore() = new ParquetTwinStore(root, 2,
        overflowBytes = if (trial == 2) 0L else ParquetTwinStore.OverflowBytes)
      var pq = mkStore()
      val mem = new InMemoryTwinStore
      var model = Map.empty[Long, Set[String]] // key -> current row group
      for (step <- 1 to 2 * ParquetTwinStore.MaxDeltas + 5) {
        if (step == ParquetTwinStore.MaxDeltas + 2) pq = mkStore()
        // pick upsert / delete key sets over a small key space
        // (collisions + re-inserts guaranteed); multi-row groups
        // included. Trial 3 VIOLATES the disjointness contract on
        // purpose: its delete picks may overlap the step's upserts, and
        // the model applies DELETE-WINS (the pinned uniform semantic) —
        // so the fuzz also guards the overlap path across compactions
        // and restarts
        val keys = rnd.shuffle((0L to 9L).toList)
        val ups = keys.take(rnd.nextInt(3) + 1)
          .map(k => k -> (1 to rnd.nextInt(2) + 1).map(i => s"t$trial-s$step-$i").toSet)
        val delPool = if (trial == 3) keys else keys.drop(ups.size)
        val dels = delPool.take(rnd.nextInt(2))
          .filter(k => model.contains(k) || rnd.nextBoolean())
        val upDf = ups.flatMap { case (k, vs) => vs.map(v => (k, v)) }.toDF("id", "v")
        val delDf = if (dels.isEmpty) None else Some(dels.toDF("id"))
        // delete-wins on overlap: apply upserts first, then deletions
        model = (model ++ ups) -- dels
        val gotPq = rows(pq.merge("t", Seq("id"), upDf, delDf))
        val gotMem = rows(mem.merge("t", Seq("id"), upDf, delDf))
        val want = model.toSeq.flatMap { case (k, vs) => vs.map(v => (k, v)) }.toSet
        assert(gotPq == want, s"trial $trial step $step: parquet diverged from the model")
        assert(gotMem == want, s"trial $trial step $step: in-memory diverged from the model")
      }
      // a fresh incarnation over the same root resolves the final state
      val want = model.toSeq.flatMap { case (k, vs) => vs.map(v => (k, v)) }.toSet
      assert(rows(new ParquetTwinStore(root).load(spark, "t").get) == want,
        s"trial $trial: restarted store diverged from the model")
    }
  }

  test("parquet merge: a pre-bucketing (flat-layout) table root fails LOUDLY instead of serving empty") {
    val root = java.nio.file.Files.createTempDirectory("graft-tslegacy").toString
    // fabricate a legacy layout: d1/ directly under t.m/, no _fanout
    val legacyDelta = new java.io.File(s"$root/t.m/d1")
    legacyDelta.mkdirs()
    kv(1L -> "old").write.mode("overwrite").parquet(legacyDelta.getPath)
    val st = new ParquetTwinStore(root)
    val eLoad = intercept[IllegalStateException](st.load(spark, "t"))
    assert(eLoad.getMessage.contains("flat-layout"))
    // a merge over the same root must refuse too (silently absorbing the
    // upsert would discard the legacy rows AND the replay guard)
    val eMerge = intercept[IllegalStateException](
      st.merge("t", Seq("id"), kv(2L -> "new"), None))
    assert(eMerge.getMessage.contains("flat-layout"))
    // a bucket dir holding a `t<seq>` dir — the separate delete file
    // kind of an earlier store version — must fail loudly too: resolving
    // without it would resurrect the keys it deleted
    val tombRoot = java.nio.file.Files.createTempDirectory("graft-tstomb").toString
    val tomb = new java.io.File(s"$tombRoot/t.m/b0/t1")
    tomb.mkdirs()
    keys(1L).write.mode("overwrite").parquet(tomb.getPath)
    val stT = new ParquetTwinStore(tombRoot)
    val eLoadT = intercept[IllegalStateException](stT.load(spark, "t"))
    assert(eLoadT.getMessage.contains("b0/t1"))
    val eMergeT = intercept[IllegalStateException](
      stT.merge("t", Seq("id"), kv(2L -> "new"), None))
    assert(eMergeT.getMessage.contains("b0/t1"))
  }

  test("parquet merge: a warm merge with upserts AND delete keys stages one delta and no tombstone dir") {
    val root = java.nio.file.Files.createTempDirectory("graft-tsone").toString
    val st = new ParquetTwinStore(root, 4)
    // the seed touches all four buckets, so the merge below is warm
    st.merge("t", Seq("id"), kv((0L until 16L).map(i => i -> s"a$i"): _*), None)
    def seqDirs(prefix: String): Set[String] =
      ((0 until 4).map(k => s"b$k") :+ "ovf").flatMap { d =>
        Option(new java.io.File(s"$root/t.m/$d").list()).toSeq.flatten
          .filter(n => n.startsWith(prefix) && n.length > 1 && n.drop(1).forall(_.isDigit))
          .map(n => s"$d/$n")
      }.toSet
    val before = seqDirs("d")
    var cur: DataFrame = null
    val jobs = jobsOf {
      cur = st.merge("t", Seq("id"), kv(3L -> "B", 4L -> "C"), Some(keys(5L, 6L)))
    }
    val after = seqDirs("d")
    assert(before.subsetOf(after) && after.size == before.size + 1,
      s"one merge must add exactly one delta dir: $before -> $after")
    assert(seqDirs("t").isEmpty, s"no tombstone dir may be written: ${seqDirs("t")}")
    assert(st.coldWindowResolves == 0L)
    assert(rows(cur) == (0L until 16L).filterNot(Set(3L, 4L, 5L, 6L)).map(i => i -> s"a$i").toSet
      ++ Set(3L -> "B", 4L -> "C"))
    assert(jobs == 5, s"a warm upsert+delete merge ran $jobs Spark jobs")
  }

  test("parquet merge: a torn (crashed) compaction base write never masks live deltas") {
    val root = java.nio.file.Files.createTempDirectory("graft-tstorn").toString
    val st = new ParquetTwinStore(root, 1)
    st.merge("t", Seq("id"), kv(1L -> "a", 2L -> "b"), None)
    st.merge("t", Seq("id"), kv(2L -> "B"), None)
    // simulate a compaction that died mid-write: bases are written to a
    // temp dir and renamed into place, so the torn remnant is a
    // `.base-tmp` dir with data files — it must be invisible to both the
    // sequence scan and resolution (a torn base that COUNTED as the
    // newest base would mask the still-live d1/d2 and lose rows)
    val torn = new java.io.File(s"$root/t.m/b0/.base-tmp")
    torn.mkdirs()
    kv(1L -> "torn").write.mode("overwrite").parquet(torn.getPath)
    val st2 = new ParquetTwinStore(root)
    assert(rows(st2.load(spark, "t").get) == Set((1L, "a"), (2L, "B")),
      "a torn compaction remnant must not participate in resolution")
    val cur = st2.merge("t", Seq("id"), kv(3L -> "c"), None)
    assert(rows(cur) == Set((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("parquet merge: warm merges fold incrementally — the cold file-window never runs, partitions stay bounded") {
    // the two behavioral guarantees behind the r13 flat-cost ladder,
    // pinned so a refactor cannot silently regress them:
    //  1. after a bucket's first touch, its resolution folds into the
    //     cached checkpoint — the file-level merge-on-read window (the
    //     resolve_cold phase) must never run again in this incarnation;
    //  2. the batched checkpoint coalesces to the session's shuffle
    //     partitions — without the bound, every merge ADDS the staged
    //     read's partitions and all later state scans pay an
    //     ever-growing task count (the r12 sawtooth's hidden driver).
    val root = java.nio.file.Files.createTempDirectory("graft-tswarm").toString
    val st = new ParquetTwinStore(root, 4)
    val bound = spark.sessionState.conf.numShufflePartitions + 4
    var cur: DataFrame = null
    for (i <- 1 to 12) {
      cur = st.merge("t", Seq("id"),
        kv((0L until 40L).map(k => k -> s"v$i-$k"): _*),
        Some(keys(40L + i)))
      assert(st.coldWindowResolves == 0L,
        s"merge $i: warm buckets must fold incrementally, not re-run the file window")
      assert(cur.rdd.getNumPartitions <= bound,
        s"merge $i: ${cur.rdd.getNumPartitions} partitions — the checkpoint must stay coalesced")
    }
    assert(cur.count() == 40L)
    // a restarted store pays the window at most once per bucket...
    val st2 = new ParquetTwinStore(root, 4)
    st2.merge("t", Seq("id"), kv(0L -> "post"), None)
    val afterFirst = st2.coldWindowResolves
    assert(afterFirst <= 4L, s"at most one window per bucket, saw $afterFirst")
    // ...and is warm from then on, including for buckets it has not
    // touched yet this incarnation (they were materialized batched if
    // they carried live deltas; fully-compacted buckets serve as lazy
    // base READS — bounded by the file layout, deliberately uncached)
    val next = st2.merge("t", Seq("id"), kv(1L -> "post2", 2L -> "post3"), None)
    assert(st2.coldWindowResolves == afterFirst,
      "post-restart second merge must serve from the batched materialization")
    // the serve plan may union per-bucket base-read legs on top of the
    // coalesced checkpoint; what must NOT happen is per-trigger growth
    // (the r12 sawtooth) — pin a layout-derived cap and flatness
    val baseFiles = (0 until 4).flatMap { k =>
      Option(new java.io.File(s"$root/t.m/b$k").listFiles())
        .getOrElse(Array.empty[java.io.File]).toSeq
    }.filter(d => d.isDirectory && d.getName.startsWith("base-v"))
      .map(d => Option(d.listFiles())
        .fold(0)(_.count(f => f.isFile && f.getName.startsWith("part-"))))
      .sum
    // distinct cached ancestors (at most one per bucket, merging as
    // buckets are re-touched together) can each contribute up to
    // `bound` partitions on top of base legs — the cap is layout-
    // derived and does NOT compound per trigger
    val cap = 4 * bound + baseFiles
    val p1 = next.rdd.getNumPartitions
    assert(p1 <= cap, s"$p1 partitions exceeds layout cap $cap")
    for (j <- 1 to 3) {
      val nx = st2.merge("t", Seq("id"), kv(3L -> s"post-$j"), None)
      assert(nx.rdd.getNumPartitions <= cap,
        s"warm merge $j: ${nx.rdd.getNumPartitions} exceeds layout cap $cap")
    }
    // a full spray re-materializes every bucket into ONE checkpoint:
    // the serve plan collapses back to the coalesced ancestor alone
    val sprayed = st2.merge("t", Seq("id"),
      kv((0L until 40L).map(k => k -> s"w-$k"): _*), None)
    assert(sprayed.rdd.getNumPartitions <= bound,
      s"after a full spray the plan is the single checkpoint again, " +
        s"saw ${sprayed.rdd.getNumPartitions}")
  }

  test("parquet merge: a restarted store resumes the sequence and load() resolves the merged table") {
    val root = java.nio.file.Files.createTempDirectory("graft-tsrestart").toString
    val st1 = new ParquetTwinStore(root)
    st1.merge("t", Seq("id"), kv(1L -> "a", 2L -> "b"), None)
    st1.merge("t", Seq("id"), kv(2L -> "B"), Some(keys(1L)))
    // fresh instance over the same root: load() must see the merged
    // state, and a further merge must continue the sequence (the newer
    // upsert wins over the restart boundary)
    val st2 = new ParquetTwinStore(root)
    assert(rows(st2.load(spark, "t").get) == Set((2L, "B")))
    val cur = st2.merge("t", Seq("id"), kv(1L -> "back", 2L -> "B2"), None)
    assert(rows(cur) == Set((1L, "back"), (2L, "B2")))
  }
}
