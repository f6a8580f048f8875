package graftbench

import java.io.File
import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded fixture generators. The same seed gives the same bytes of data. */
object Gen {

  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /**
   * A seeded canonical event log (the engine's `Subscriptions.eventSchema`)
   * of `n` events over `streams` streams, `streams` prime. Positions come in
   * blocks of `streams`; inside block `b` the streams appear once each, in
   * an order given by the seeded bijection `j -> (a_b * j + c_b) mod
   * streams`, so every event's stream, revision (= `b`) and type are
   * arithmetic in its position: the client can model the log without
   * reading it, and staging is one scan-free job.
   */
  final case class LogSpec(seed: Long, n: Long, streams: Int, files: Int) {
    require(BigInt(streams).isProbablePrime(20), s"stream count $streams must be prime")
    private val mix = Math.floorMod(seed, 1000003L)
    def streamOf(p: Long): String = {
      val i = p - 1
      val b = i / streams
      val a = 1 + Math.floorMod(b * 7919 + mix * 31, streams - 1L)
      val c = Math.floorMod(b * 104729 + mix * 7, streams.toLong)
      s"user-${(a * (i % streams) + c) % streams}"
    }
    def revisionOf(p: Long): Long = (p - 1) / streams
    def typeOf(p: Long): String = EventTypes(((p * 48271 % 2147483647 + mix) % EventTypes.size).toInt)

    /** The same functions as Spark columns over `position`. */
    def frame(spark: SparkSession): DataFrame = {
      val p = col("position")
      val i = p - 1L
      val b = i.divide(lit(streams.toLong)).cast("long")
      val a = pmod(b * 7919L + mix * 31, lit(streams - 1L)) + 1L
      val c = pmod(b * 104729L + mix * 7, lit(streams.toLong))
      val t = element_at(array(EventTypes.map(lit): _*),
        ((p * 48271L % 2147483647L + mix) % EventTypes.size.toLong).cast("int") + 1)
      spark.range(1, n + 1, 1, files).withColumnRenamed("id", "position")
        .withColumn("event_type", t)
        .select(
          concat(lit("user-"), ((a * pmod(i, lit(streams.toLong)) + c) % streams.toLong).cast("string")).as("stream"),
          concat(lit(s"e$seed-"), p.cast("string")).as("uuid"),
          col("event_type"),
          format_string("{\"k\": %d, \"v\": %d}", p * 16807L % 2147483647L % 100L,
            p * 69621L % 2147483647L % 10000L).as("data"),
          map(lit("type"), col("event_type"), lit("content-type"), lit("application/json"),
            lit("created"), (p * 10L).cast("string")).as("metadata"),
          lit(null).cast("string").as("custom_metadata"),
          b.as("revision"),
          p)
    }

    /** Write the log to `dir` as `files` position-ordered parquet files
      * (range partitions are contiguous), with mtimes in position order:
      * a file-stream source delivers files in mtime order, and the log
      * contract is that arrival order is position order. */
    def write(spark: SparkSession, dir: String): Unit = {
      frame(spark).write.mode("overwrite").parquet(dir)
      orderMtimes(dir)
    }
  }

  /** Set part-file mtimes in part-index (= position-range) order. */
  def orderMtimes(dir: String): Unit = {
    val parts = new File(dir).listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val t0 = System.currentTimeMillis() - 1000L * (parts.length + 10)
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(t0 + 1000L * i) }
  }

  /** Recursive copy (fixture staging); preserves mtimes. */
  def copyDir(from: String, to: String): Unit = {
    val src = new File(from).toPath
    val dst = new File(to).toPath
    java.nio.file.Files.walk(src).forEach { p =>
      val q = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  def deleteDir(path: String): Unit = {
    val f = new File(path)
    if (f.exists) {
      val walk = java.nio.file.Files.walk(f.toPath)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
  }

  // ---------------------------------------------------------------- gate

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)
  final case class Ev(event_id: Long, ts: LocalDateTime, user_id: Long, event_type: String,
                      value: Double, props: String)
  final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
                            l_quantity: Double, l_extendedprice: Double, l_discount: Double,
                            l_tax: Double, l_returnflag: String, l_linestatus: String,
                            l_shipdate: LocalDateTime)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String, o_totalprice: Double,
                         o_orderdate: LocalDateTime, o_orderpriority: String)

  /** Table sizes of the gate fixture. */
  final case class GateScale(docs: Int, vecs: Int, events: Int, users: Int, orders: Int)

  private val Vocab = ("a batch big agg column customer data fast filter group hash join key line " +
    "merge order part query row scan slow small sort spark stream table the value vector window").split(" ")
  private val Langs = Seq("en", "en", "en", "en", "de", "es", "fr", "zh", "de", "es", "fr", "zh")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /**
   * The gate queries' input tables (`documents`, `embeddings`, `events`,
   * `lineitem`, `orders`, in the schemas of the engine's test fixtures),
   * written as `dir/<table>.parquet`. Rows are drawn on the driver from one
   * `SplittableRandom(seed)` stream, so they are identical on every JVM.
   * About one document in twelve is a near-copy of an earlier one, so the
   * dedup and graph queries have pairs to find.
   */
  def gateTables(spark: SparkSession, dir: String, seed: Long, sc: GateScale): Unit = {
    import spark.implicits._
    val r = new SplittableRandom(seed)
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    def cents(lo: Int, hi: Int): Double = r.nextInt(lo, hi) / 100.0

    val texts = new Array[String](sc.docs)
    val docs = (0 until sc.docs).map { i =>
      val text =
        if (i > 20 && r.nextInt(12) == 0) {
          val words = texts(r.nextInt(i)).split(" ")
          words.map(w => if (r.nextInt(10) == 0) pick(Vocab.toSeq) else w).mkString(" ")
        } else Seq.fill(r.nextInt(10, 90))(pick(Vocab.toSeq)).mkString(" ")
      texts(i) = text
      Doc(i.toLong, text, pick(Langs), s"src${i % 20}", text.length.toLong)
    }
    val centers = Array.fill(10, 64)(r.nextDouble() * 2 - 1)
    val embs = (0 until sc.vecs).map { i =>
      val label = r.nextInt(10)
      // coordinates sit mid-way between thousandths: floor(x * 1000) is then
      // the same in float and in double arithmetic (DuckDB's oracle multiplies
      // a FLOAT in float precision, Spark in double)
      Emb(i.toLong, Array.tabulate(64) { d =>
        val x = centers(label)(d) * 0.2 + (r.nextDouble() - 0.5) * 0.3
        ((math.floor(x * 1000) + 0.5) / 1000).toFloat
      }, label)
    }
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    var tsMicros = 0L
    val evs = (0 until sc.events).map { i =>
      tsMicros += r.nextInt(1, 20000000)
      Ev(i.toLong, t0.plusNanos(tsMicros * 1000L), r.nextInt(sc.users).toLong, pick(EventTypes),
        cents(100, 20000), s"""{"k": ${r.nextInt(100)}}""")
    }
    val orders = (0 until sc.orders).map { k =>
      Order(k.toLong, r.nextInt(sc.orders / 10 + 1).toLong, pick(Seq("F", "O", "P")),
        cents(100000, 50000000), t0.minusDays(r.nextInt(3000).toLong), pick(Priorities))
    }
    val items = orders.flatMap { o =>
      (1 to r.nextInt(1, 8)).map { ln =>
        LineItem(o.o_orderkey, r.nextInt(20000).toLong, r.nextInt(1000).toLong, ln,
          r.nextInt(1, 51).toDouble, cents(90000, 10000000), r.nextInt(0, 11) / 100.0,
          r.nextInt(0, 9) / 100.0, pick(Seq("A", "N", "R")), pick(Seq("F", "O")),
          o.o_orderdate.plusDays(r.nextInt(1, 120).toLong))
      }
    }
    def write(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    write(docs.toDF(), "documents")
    write(embs.toDF(), "embeddings")
    write(evs.toDF(), "events")
    write(items.toDF(), "lineitem")
    write(orders.toDF(), "orders")
  }
}
