package graft

import graft.Bench.{Base, Counts, Run}

/** The bench gate: the pure judge over (baseline, per-query passes), the
  * listener's counts on a real gate query, the session factory, and the
  * memo ledger the bench reports as `memo_build_s`. */
class BenchGateSpec extends SparkSpec {

  private def run(jobs: Int, stages: Int, cpu: Double = 1.0): Run =
    Run(wall = cpu, cpu = cpu, jit = 0.0, gc = 0.0, Counts(jobs, stages, tasks = stages.toLong, taskCpuMs = 0L, shuffleWriteBytes = 0L))

  private val base = Map("q" -> Base(jobs = 3, stages = 5, cpuS = 1.0))

  private def judge(rs: Run*): (Map[String, String], Map[String, Base]) =
    Bench.judge(base, Map("q" -> rs))

  test("an extra stage is flagged") {
    val (regs, next) = judge(run(3, 6), run(3, 6), run(3, 6))
    assert(regs("q") == "stages 6 > 5")
    assert(next("q") == base("q"))
  }

  test("an extra job is flagged") {
    val (regs, next) = judge(run(4, 5), run(4, 5), run(4, 5))
    assert(regs("q") == "jobs 4 > 3")
    assert(next("q") == base("q"))
  }

  test("a lower count is not flagged and lowers the baseline") {
    val (regs, next) = judge(run(2, 4, 0.8), run(2, 4, 0.9), run(2, 4, 1.0))
    assert(regs.isEmpty)
    // counts are exact, so the lower one replaces the stored one; cpu_s
    // is written only when absent
    assert(next("q") == Base(2, 4, 1.0))
  }

  test("the cpu bar needs both 2x the baseline and 0.5 cpu-s above it") {
    def cpuVerdict(baseCpu: Double, cpu: Double): Option[String] =
      Bench.judge(Map("q" -> Base(3, 5, baseCpu)), Map("q" -> Seq.fill(3)(run(3, 5, cpu))))._1.get("q")
    assert(cpuVerdict(0.6, 1.26).exists(_.startsWith("cpu 1.260 s > 2 x 0.600 s"))) // 2.1x, +0.66 s
    assert(cpuVerdict(1.0, 1.9).isEmpty) // 1.9x, +0.9 s
    assert(cpuVerdict(0.2, 0.5).isEmpty) // 2.5x, +0.3 s
  }

  test("JIT compile time is not charged to the query") {
    val (regs, _) = Bench.judge(Map("q" -> Base(3, 5, 0.6)),
      Map("q" -> Seq.fill(3)(run(3, 5, 2.0).copy(jit = 1.0))))
    assert(regs.isEmpty) // 1.0 cpu-s net of JIT, under 2 x 0.6
  }

  test("the cpu bar reads the median pass") {
    val (regs, _) = judge(run(3, 5, 9.0), run(3, 5, 1.1), run(3, 5, 1.2))
    assert(regs.isEmpty)
  }

  test("a missing query is seeded and not flagged; other queries keep their baseline") {
    val (regs, next) = Bench.judge(base, Map("new" -> Seq(run(7, 9, 2.0), run(7, 9, 1.5), run(7, 9, 3.0))))
    assert(regs.isEmpty)
    assert(next == base + ("new" -> Base(7, 9, 2.0)))
  }

  test("counts that differ across passes are flagged unstable and change no baseline") {
    val (regs, next) = judge(run(3, 5), run(3, 6), run(3, 5))
    assert(regs("q") == "unstable: jobs 3 stages 5/6")
    assert(next == base)
    val (seedRegs, seedNext) = Bench.judge(Map.empty, Map("q" -> Seq(run(3, 5), run(4, 5), run(3, 5))))
    assert(seedRegs("q") == "unstable: jobs 3/4 stages 5")
    assert(seedNext.isEmpty)
  }

  test("the baseline file round-trips through JSON") {
    val p = java.nio.file.Files.createTempFile("bench-baseline", ".json")
    val all = Map("sf0.1@4" -> Map("a" -> Base(1, 2, 0.25), "b" -> Base(10, 31, 3.5)),
      "sf0.001@8" -> Map("a" -> Base(1, 1, 0.125)))
    java.nio.file.Files.writeString(p, org.json4s.jackson.JsonMethods.pretty(Bench.baselineJson(all)))
    assert(Bench.readBaseline(p) == all)
    java.nio.file.Files.writeString(p, """{"sf0.1@4": {"a": {"jobs": 1}}}""")
    intercept[NoSuchElementException](Bench.readBaseline(p))
  }

  test("a gate query's job and stage counts repeat exactly under the listener") {
    val counter = new Bench.Counter(spark.sparkContext)
    try {
      val q = SparkEntry.queries("agg_by_nation")
      def counted(): Counts = {
        val before = counter.drained()
        q(spark, "/root/testdata/sf0.001").count()
        counter.drained() - before
      }
      counted() // builds the per-(session, sf-dir) memos
      val a = counted()
      val b = counted()
      assert(a.jobs >= 1 && a.stages >= 2, a)
      assert((a.jobs, a.stages, a.tasks) == ((b.jobs, b.stages, b.tasks)))
    } finally counter.close()
  }

  test("GraftSession.local sets the engine confs and registers the kernels") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "20000")
    assert(spark.conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val n = spark.sql("SELECT graft_intersect_size(array(1L, 2L, 3L), array(2L, 3L, 4L))").head().getInt(0)
    assert(n == 2)
  }

  test("a memo builds once, and a nested build's seconds are not counted in the outer one") {
    import graft.util.Memo
    var builds = 0
    def outer(): String = Memo(spark, "memo-spec-dir", "BenchGateSpec.outer") {
      builds += 1
      Memo(spark, "memo-spec-dir", "BenchGateSpec.inner") { Thread.sleep(400); "inner" } + "+outer"
    }
    val t0 = System.nanoTime()
    assert(outer() == "inner+outer")
    val wall = (System.nanoTime() - t0) / 1e9
    assert(outer() == "inner+outer")
    assert(builds == 1)
    val secs = Memo.buildSeconds
    val (inner, own) = (secs("BenchGateSpec.inner"), secs("BenchGateSpec.outer"))
    assert(inner >= 0.4 && own < inner && inner + own <= wall, secs)
  }
}
