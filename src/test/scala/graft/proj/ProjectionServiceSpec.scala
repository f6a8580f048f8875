package graft.proj

import java.nio.file.Files

import graft.SparkSpec

/**
 * Projections-service verbs per the reference's declared wire surface
 * (`projections.proto:8-19`); Update is real here (stub in the reference,
 * `service.go:30-32`).
 */
class ProjectionServiceSpec extends SparkSpec {

  private val script =
    """{"name":"svc","from":["$all"],"partitionBy":"stream",
      |"state":["n"],
      |"when":{"$any":[{"op":"inc","field":"n"}]},
      |"outputState":true}""".stripMargin

  private def events(n: Int) = {
    import spark.implicits._
    (1 to n).map(p => (s"s-${p % 2}", "t", "{}", p.toLong))
      .toDF("stream", "event_type", "data", "position")
  }

  test("create/update/delete lifecycle with status gating") {
    val dir = Files.createTempDirectory("graft-svc").toString
    ProjectionService.create(spark, dir, "svc", script, nowNanos = 1L)
    intercept[IllegalArgumentException](
      ProjectionService.create(spark, dir, "svc", script)) // exists
    assert(ProjectionService.status(spark, dir, "svc").contains((true, 0L)))

    // update stores a new version (count only clicks now)
    val v2 = script.replace("\"$any\"", "\"click\"")
    ProjectionService.update(spark, dir, "svc", v2, nowNanos = 2L)
    assert(ProjectionService.compiled(spark, dir, "svc").handlers.contains("click"))

    ProjectionService.delete(spark, dir, "svc", nowNanos = 3L)
    assert(ProjectionService.status(spark, dir, "svc").isEmpty)
    intercept[NoSuchElementException](ProjectionService.compiled(spark, dir, "svc"))
    // a deleted name can be recreated — at the NEXT epoch, so the new
    // incarnation's pump namespace never resumes the deleted one's
    // checkpoint or mixes into its result dir
    ProjectionService.create(spark, dir, "svc", script, nowNanos = 4L)
    assert(ProjectionService.status(spark, dir, "svc").contains((true, 1L)))
    assert(ProjectionService.pumpDirs(spark, dir, "svc")._1.contains("epoch-1"))
  }

  test("state and result run the stored fold; statistics count processed events") {
    val dir = Files.createTempDirectory("graft-svc2").toString
    ProjectionService.create(spark, dir, "svc", script, nowNanos = 1L)
    val st = ProjectionService.state(spark, dir, "svc", events(10))
      .collect().map(r => r.getString(0) -> r.getMap[String, Long](1).toMap).toMap
    assert(st == Map("s-0" -> Map("n" -> 5L), "s-1" -> Map("n" -> 5L)))
    // every fold step forwards (no filterBy) -> 10 emissions
    assert(ProjectionService.result(spark, dir, "svc", events(10)).count() == 10)
    val stats = ProjectionService.statistics(spark, dir, "svc", events(10)).head()
    assert(stats.getString(0) == "svc" && stats.getBoolean(1))
    assert(stats.getLong(3) == 10L)
    assert(stats.getString(4) == "$projections-svc-result")
  }

  test("stateAll: every enabled projection folds in ONE pass, equal to per-projection runs") {
    val dir = Files.createTempDirectory("graft-svc-all").toString
    // three stored projections with DIFFERENT keying: per-stream count,
    // click count (selector-equivalent via handler dispatch), global total
    ProjectionService.create(spark, dir, "per-stream", script, nowNanos = 1L)
    ProjectionService.create(spark, dir, "clicks",
      script.replace("\"svc\"", "\"clicks\"").replace("\"$any\"", "\"click\""), nowNanos = 2L)
    ProjectionService.create(spark, dir, "total",
      """{"name":"total","from":["$all"],
        |"state":["n"],
        |"when":{"$any":[{"op":"inc","field":"n"}]},
        |"outputState":true}""".stripMargin, nowNanos = 3L)
    // one disabled projection must NOT appear
    ProjectionService.create(spark, dir, "off", script.replace("\"svc\"", "\"off\""), nowNanos = 4L)
    ProjectionService.disable(spark, dir, "off", nowNanos = 5L)

    val ev = events(10).withColumn("event_type",
      org.apache.spark.sql.functions.expr("CASE WHEN position % 3 = 0 THEN 'click' ELSE 't' END"))
    val all = ProjectionService.stateAll(spark, dir, ev)
    // ONE shuffle for all three folds (the repartition on (proj, key))
    val own = all.queryExecution.executedPlan.toString().split("InMemoryTableScan")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(own).length
    assert(exchanges == 1, s"multiplexed fold must shuffle once, found $exchanges")

    val got = all.collect()
      .map(r => (r.getString(0), r.getString(1), r.getMap[String, Long](2).toMap))
      .toSet
    assert(!got.exists(_._1 == "off"))
    val want = Seq("per-stream", "clicks", "total").flatMap { n =>
      ProjectionService.state(spark, dir, n, ev).collect()
        .map(r => (n, r.getString(0), r.getMap[String, Long](1).toMap))
    }.toSet
    assert(got == want, s"multiplexed $got != individual $want")
  }

  test("startPump runs the stored projection live end-to-end (catch-up)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-svc-pump").toString
    val logDir = Files.createTempDirectory("graft-svc-log").toString
    (1 to 8).map(p => (s"s-${p % 2}", s"u-$p", "t", "{}",
      Map.empty[String, String], p / 2L, p.toLong))
      .toDF("stream", "uuid", "event_type", "data", "metadata", "revision", "position")
      .write.mode("append").parquet(logDir)
    ProjectionService.create(spark, dir, "svc", script, nowNanos = 1L)
    val q = ProjectionService.startPump(spark, dir, "svc", logDir, availableNow = true)
    q.awaitTermination()
    val res = spark.read.parquet(s"$dir/pump/svc/epoch-0/result/$$projections-svc-result")
    assert(res.count() == 8) // every fold step forwards
    import org.apache.spark.sql.functions.{element_at, max => fmax}
    val finals = res.groupBy("partition")
      .agg(fmax(element_at(org.apache.spark.sql.functions.col("state"), "n")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(finals == Map("s-0" -> 4L, "s-1" -> 4L))
  }

  test("disable gates the pump; reset bumps the epoch namespace") {
    val dir = Files.createTempDirectory("graft-svc3").toString
    ProjectionService.create(spark, dir, "svc", script, nowNanos = 1L)
    val (ck0, _) = ProjectionService.pumpDirs(spark, dir, "svc")
    assert(ck0.contains("epoch-0"))
    ProjectionService.disable(spark, dir, "svc", nowNanos = 2L)
    assert(ProjectionService.status(spark, dir, "svc").contains((false, 0L)))
    intercept[IllegalArgumentException](ProjectionService.pumpDirs(spark, dir, "svc"))
    ProjectionService.enable(spark, dir, "svc", nowNanos = 3L)
    ProjectionService.reset(spark, dir, "svc", nowNanos = 4L)
    val (ck1, res1) = ProjectionService.pumpDirs(spark, dir, "svc")
    assert(ck1.contains("epoch-1") && res1.contains("epoch-1")) // fresh fold namespace
  }

  private val jsSource =
    """
    fromAll()
      .foreachStream()
      .when({
        $init: function() { return { n: 0, last: '' } },
        $any: function(state, event) {
          state.n += 1
          state.last = event.eventType
        }
      })
      .outputState()
    """

  test("JS-source projections store, serve and multiplex through the service") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-svc-js").toString
    // a bad JS source is rejected at create (like goja compile on Create)
    intercept[JsProjection.JsParseException](
      ProjectionService.create(spark, dir, "bad", "fromAll().nope()", nowNanos = 1L))
    ProjectionService.create(spark, dir, "js", jsSource, nowNanos = 2L)
    ProjectionService.create(spark, dir, "svc", script, nowNanos = 3L)

    // dialect routing: typed verbs refuse the wrong dialect
    intercept[IllegalArgumentException](ProjectionService.compiled(spark, dir, "js"))
    intercept[IllegalArgumentException](ProjectionService.compiledJs(spark, dir, "svc"))

    // stateJson serves BOTH dialects
    val evs = (1 to 6).map(p => (s"s-${p % 2}", if (p == 6) "click" else "view", "{}", p.toLong))
      .toDF("stream", "event_type", "data", "position")
    val js = ProjectionService.stateJson(spark, dir, "js", evs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(js == Map(
      "s-0" -> """{"last":"click","n":3}""",
      "s-1" -> """{"last":"view","n":3}"""))
    val bag = ProjectionService.stateJson(spark, dir, "svc", evs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(bag == Map("s-0" -> """{"n":3}""", "s-1" -> """{"n":3}"""))

    // the bag-typed multiplexed fold keeps working, skipping the JS entry
    val all = ProjectionService.stateAll(spark, dir, evs)
      .select("projection").distinct().collect().map(_.getString(0)).toSet
    assert(all == Set("svc"))
    // statistics is dialect-agnostic
    assert(ProjectionService.statistics(spark, dir, "js", evs).head().getLong(3) == 6L)
  }

  test("each serving verb reads the status table and the catalog once") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-svc-once").toString
    ProjectionService.create(spark, dir, "js", jsSource, nowNanos = 1L)
    ProjectionService.create(spark, dir, "svc", script, nowNanos = 2L)
    val evs = (1 to 4).map(p => (s"s-${p % 2}", "view", "{}", p.toLong))
      .toDF("stream", "event_type", "data", "position")
    // one status read plus one catalog read; the verbs below build lazy
    // DataFrames, so the jobs they run are their control plane alone
    val once = jobsOf(ProjectionService.status(spark, dir, "js")) +
      jobsOf(Catalog.get(spark, s"$dir/catalog", "js"))
    assert(once > 0)
    assert(jobsOf(ProjectionService.compiledJs(spark, dir, "js")) == once)
    assert(jobsOf(ProjectionService.stateJson(spark, dir, "js", evs)) == once)
    assert(jobsOf(ProjectionService.stateJson(spark, dir, "svc", evs)) == once)
    assert(jobsOf(ProjectionService.statistics(spark, dir, "js", evs)) == once)
  }

  test("a stored JS source runs LIVE through the pump, state JSON-rendered") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-svc-js-pump").toString
    val logDir = Files.createTempDirectory("graft-svc-js-log").toString
    (1 to 8).map(p => (s"s-${p % 2}", s"u-$p", if (p % 4 == 0) "click" else "view", "{}",
      Map.empty[String, String], p / 2L, p.toLong))
      .toDF("stream", "uuid", "event_type", "data", "metadata", "revision", "position")
      .write.mode("append").parquet(logDir)
    ProjectionService.create(spark, dir, "js", jsSource, nowNanos = 1L)
    val q = ProjectionService.startPump(spark, dir, "js", logDir, availableNow = true)
    q.awaitTermination()
    val res = spark.read.parquet(s"$dir/pump/js/epoch-0/result/$$projections-js-result")
    assert(res.count() == 8) // every fold step forwards
    import org.apache.spark.sql.functions.{col, get_json_object, max => fmax}
    val finals = res
      .select(col("partition"), get_json_object(col("state_json"), "$.n").cast("long").as("n"))
      .groupBy("partition").agg(fmax(col("n")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(finals == Map("s-0" -> 4L, "s-1" -> 4L))
    // the final streamed state equals the batch stateJson over the same log
    val batch = ProjectionService.stateJson(spark, dir, "js",
      spark.read.parquet(logDir))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(batch("s-0") == """{"last":"click","n":4}""")
  }
}
