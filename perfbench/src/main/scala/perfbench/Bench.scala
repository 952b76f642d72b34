package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import graft.analytics.TableStats
import graft.etl.ArtifactEtl
import graft.model.ArtifactSchemas
import graft.queries.ReferenceQueries
import graft.sinks.ArtifactStore
import graft.sources.PagedJsonIngest

/** `Bench --workload <app_queries|bulk_ingest> --seed <n> --seconds <s>
  *  --trace <0|1> --work <dir>`: sets the workload up three times, runs its
  * ops in one closed loop for `seconds`, runs an untimed check pass, and
  * writes `<dir>/result.json` (metrics, op counts, and what `check.py`
  * must verify). Everything the run writes stays under `<dir>`. */
object Bench {
  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    // the same session settings as graft.Bench at four cores, with the
    // warehouse inside the run's own directory
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val run = new Run(spark, work, opt("seed").toLong, opt("trace") == "1")
    val seconds = opt("seconds").toDouble
    val result =
      try opt("workload") match {
        case "app_queries" => new AppQueries(run)(seconds)
        case "bulk_ingest" => new BulkIngest(run)(seconds)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    Files.write(Paths.get(work, "result.json"), result.getBytes(UTF_8))
  }
}

/** State shared by one run: op accounting, the optional tracer, and the
  * closed loop's single client. */
final class Run(val spark: SparkSession, val work: String, val seed: Long,
                val traced: Boolean) {
  var attempted = 0L
  var failed = 0L
  private val errors = mutable.ArrayBuffer[String]()
  val tracer: Option[Tracer] = if (traced) Some(new Tracer(spark)) else None

  /** One counted op: a throw marks it failed and is reported, never hidden. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case NonFatal(e) =>
      failed += 1
      if (errors.size < 5) errors += s"$what: $e".take(400)
      None
    }
  }

  def call[T](name: String)(body: => T): T = tracer.fold(body)(_.call(name)(body))

  /** One timed op, tagged with its own job group. `body` returns the rows
    * it hands back to its caller (-1 for a write). Returns the latency in
    * seconds if the op succeeded. */
  def op(index: Int, label: String, trace: Boolean, store: String)
        (body: => Long): Option[Double] = {
    val sc = spark.sparkContext
    val group = s"perfbench-op-$index"
    sc.setJobGroup(group, label)
    val t = tracer.filter(_ => trace)
    t.foreach(_.begin(label, group, store))
    val t0 = System.nanoTime()
    val rows = attempt(label)(body)
    val dt = (System.nanoTime() - t0) / 1e9
    t.foreach(_.end(rows.getOrElse(0L)))
    sc.clearJobGroup()
    // as in graft.Bench: an op must not tax its successors
    sc.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.catalog.clearCache()
    rows.map(_ => dt)
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Loop `next` in whole passes of `pass` ops until `seconds` have
    * passed, so every run weighs each op of a pass the same. */
  def loop[T](seconds: Double, pass: Int)(next: Int => T): Seq[T] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = mutable.ArrayBuffer[T]()
    while (System.nanoTime() < deadline || out.size % pass != 0) out += next(out.size)
    out.toSeq
  }

  private val walls = mutable.ArrayBuffer[(String, Double)]()
  /** Time one stage of the run itself (reported, not a metric). */
  def stage[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally walls += name -> (System.nanoTime() - t0) / 1e9
  }

  /** The result file: end-to-end metrics, or per-layer ones when traced. */
  def result(endToEnd: Seq[(String, Double, String)], perLayer: Map[String, Double],
             check: String): String = {
    val metrics =
      if (traced) perLayer.toSeq.sortBy(_._1).map { case (k, v) => (k, v, "") }
      else endToEnd
    Json.obj(Seq(
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "wall_s" -> Json.Raw(Json.obj(walls.toSeq)),
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) })),
      "check" -> Json.Raw(check)))
  }
}

/** The reference's three tables on disk, loaded page by page through the
  * engine's source → ETL → sink path. */
final case class Maintenance(compactS: Double, rewritten: Double,
                             bytesPerRecord: Double, statsS: Double)

final class Store(val root: String) {
  val meta = s"$root/artifactmetadata.parquet"
  val media = s"$root/artifactmedia.parquet"
  val colors = s"$root/artifactcolors.parquet"

  /** Land a batch of pages and load it: the first batch creates the
    * store, later ones append with INSERT IGNORE semantics. Returns the
    * number of lines decoded. */
  def load(run: Run, batch: Int, pages: Seq[Seq[String]]): Long = {
    val spark = run.spark
    val landing = f"$root/landing/batch_$batch%05d"
    run.call("land") {
      PagedJsonIngest.land(p => pages.lift(p - 1), pages.map(_.size).sum, landing)
    }
    val (raw, decoded) = run.call("decode") {
      val raw = PagedJsonIngest.readClean(spark, landing, ArtifactSchemas.rawApiSchema)
        .cache()
      (raw, raw.count())
    }
    val (m, md, c) = run.call("transform") {
      val (m, md, c) = ArtifactEtl.transform(ArtifactEtl.dedupKeepFirst(raw, "id", col("id")))
      (m, md, ArtifactEtl.cleanseDoubles(c))
    }
    run.call("append") {
      if (!new File(meta).exists) {
        ArtifactStore.create(m, meta)
        md.write.mode(SaveMode.Overwrite).parquet(media)
        c.write.mode(SaveMode.Overwrite).parquet(colors)
      } else {
        // the satellites go first, anti-joined against the hub's ids as
        // they were before this page
        val known = ArtifactStore.read(spark, meta).select(col("id").as("objectid"))
        ArtifactEtl.upsertIgnore(md, known, "objectid").write.mode(SaveMode.Append).parquet(media)
        ArtifactEtl.upsertIgnore(c, known, "objectid").write.mode(SaveMode.Append).parquet(colors)
        ArtifactStore.appendIgnore(spark, m, meta)
      }
    }
    run.tracer.foreach(_.sampleCache())
    raw.unpersist()
    decoded
  }

  def files(path: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(path))
  }
  def tableFiles: Seq[File] = Seq(meta, media, colors).flatMap(files)
  /** Bytes the three tables occupy (data files, checksums and markers). */
  def bytes: Long = tableFiles.map(_.length).sum

  /** The maintenance slot after the loop: one timed compaction of the hub
    * table, then the offline statistics build of the two satellites.
    * Returns the seconds and bytes it reports. */
  def maintain(run: Run, records: Long): Maintenance = run.stage("maintain") {
    val rewritten = files(meta).map(_.length).sum.toDouble
    val t0 = System.nanoTime()
    run.attempt("compact")(ArtifactStore.compact(run.spark, meta))
    val t1 = System.nanoTime()
    run.attempt("offline table_stats")(
      TableStats.ensure(run.spark, root, Seq("artifactmedia", "artifactcolors")))
    Maintenance((t1 - t0) / 1e9, rewritten, bytes.toDouble / records,
      (System.nanoTime() - t1) / 1e9)
  }

  def checkJson(expect: Map[String, Long], extra: (String, Any)*): String =
    Json.obj(Seq("meta" -> meta, "media" -> media, "colors" -> colors,
      "expect" -> Json.Raw(Json.obj(expect.toSeq.sortBy(_._1)))) ++ extra)
}

/** The reference app's read path: one store of five 2,500-record pages
  * (one classification each) landed and loaded as one batch; each op
  * builds one of the 20 templates from a cold plan and forces it through
  * a noop sink. */
final class AppQueries(run: Run) {
  private val spark = run.spark
  private val gen = new ArtifactGen(run.seed)
  private val pages = ArtifactGen.Classes.indices.map(gen.appPage)
  private val records = pages.map(_.size).sum
  private val templates = ReferenceQueries.templates.keys.toSeq.sortBy(_.toInt)

  /** Land and load the five pages into a fresh store. */
  private def setup(i: Int): (Store, Double) = {
    val store = new Store(s"${run.work}/app-$i")
    val t0 = System.nanoTime()
    run.attempt("setup load")(store.load(run, 0, pages))
    (store, (System.nanoTime() - t0) / 1e9)
  }

  def apply(seconds: Double): String = {
    val setups = run.stage("setup")((1 to 3).map(setup))
    val store = setups.last._1
    // the app opens its three tables once, as the reference holds one
    // connection; every op then plans its SQL from scratch
    val (meta, media, colors) = (ArtifactStore.read(spark, store.meta),
      spark.read.parquet(store.media), spark.read.parquet(store.colors))
    def query(q: String, deterministic: Boolean = false): DataFrame =
      ReferenceQueries.run(spark, q, meta, media, colors, deterministic)

    // untimed: the check pass collects each template's deterministic-limit
    // variant (its row count is what the op returns) and warms the JVM up
    val checked = run.stage("check")(templates.map { q =>
      q -> run.attempt(s"check q$q")(query(q, deterministic = true).collect().toSeq)
        .getOrElse(Nil)
    })
    val rowsOf = checked.map { case (q, rows) => q -> rows.size.toLong }.toMap
    // two more untimed passes: a fresh JVM's op latency keeps falling for
    // tens of seconds while C2 compiles the planner, and the earliest
    // passes vary most from run to run
    run.stage("warm-up")((1 to 2).foreach(_ => templates.foreach { q =>
      run.attempt(s"warm-up q$q")(query(q).write.format("noop").mode("overwrite").save())
    }))

    val rng = new scala.util.Random(run.seed)
    var order = Seq.empty[String]
    run.resetHeapPeak()
    val samples = run.stage("loop")(run.loop(seconds, templates.size) { i =>
      if (i % templates.size == 0) order = rng.shuffle(templates)
      val q = order(i % templates.size)
      // in the traced run every other pass is traced; the untraced passes
      // give the tracing overhead
      val traced = run.traced && (i / templates.size) % 2 == 1
      val lat = run.op(i, s"q$q", traced, store.meta) {
        val df = run.call("build")(query(q))
        run.tracer.foreach(_.built(df))
        run.call("execute")(df.write.format("noop").mode("overwrite").save())
        rowsOf(q)
      }
      (lat, traced)
    })
    val heapMb = run.heapPeakMb
    val m = store.maintain(run, records)

    val lat = samples.collect { case (Some(t), false) => t }
    val endToEnd = Seq(
      ("setup_s", Stats.median(setups.map(_._2)), "s"),
      ("op_p50_s", Stats.median(lat), "s"),
      ("store_bytes_per_record", m.bytesPerRecord, "B/record"))
    val perLayer = run.tracer.map(_.layers()).getOrElse(Map.empty) ++ Map(
      "offline.table_stats_build_s" -> m.statsS,
      "sinks.compact_s" -> m.compactS,
      "sinks.compact_bytes_rewritten" -> m.rewritten,
      "sources.malformed_dropped" -> 0.0,
      "sinks.bytes_written" -> 0.0,
      "sinks.files_written" -> 0.0,
      "jvm.heap_peak_mb" -> heapMb,
      "trace.overhead_s" -> Stats.overhead(samples))
    run.tracer.foreach(t => Json.writeLines(s"${run.work}/spans.jsonl", t.spansJson()))
    run.result(endToEnd, perLayer, store.checkJson(
      gen.expectations(1 to records),
      "kind" -> "app",
      "queries" -> checked.map { case (q, rows) =>
        Json.Raw(Json.obj(Seq("id" -> q, "sql" -> ReferenceQueries.deterministic(q),
          "rows" -> rows.map(r => r.toSeq))))
      }))
  }
}

/** The write path: seeded 2,500-line pages (about 20% re-sent ids, about
  * 1% malformed lines), each landed, decoded, transformed and appended
  * with INSERT IGNORE into a growing store. */
final class BulkIngest(run: Run) {
  private val spark = run.spark
  private val gen = new ArtifactGen(run.seed)

  def apply(seconds: Double): String = {
    val setups = run.stage("setup")((1 to 3).map { i =>
      val feed = new gen.Feed
      val first = feed.next()
      val store = new Store(s"${run.work}/ingest-$i")
      val t0 = System.nanoTime()
      run.attempt("setup load page 0")(store.load(run, 0, Seq(first)))
      (store, feed, (System.nanoTime() - t0) / 1e9)
    })
    val (store, feed, _) = setups.last
    var page = 0
    def nextPage(): (Int, Seq[String]) = { page += 1; (page, feed.next()) }
    // untimed: three pages warm the JVM up (see AppQueries' warm-up)
    run.stage("warm-up")((1 to 3).foreach { _ =>
      val (k, lines) = nextPage()
      run.attempt(s"warm-up page $k")(store.load(run, k, Seq(lines)))
    })

    val dropped, written, filesWritten = mutable.ArrayBuffer[Double]()
    run.resetHeapPeak()
    // traced runs go in pairs of pages, one untraced and one traced
    val samples = run.stage("loop")(run.loop(seconds, if (run.traced) 2 else 1) { i =>
      val (k, lines) = nextPage()
      val traced = run.traced && i % 2 == 1
      val before = if (traced) store.tableFiles else Nil
      var decoded = 0L
      val lat = run.op(i, s"page $k", traced, store.meta) {
        decoded = store.load(run, k, Seq(lines))
        -1L
      }
      if (traced) {
        val after = store.tableFiles
        dropped += (lines.size - decoded).toDouble
        written += (after.map(_.length).sum - before.map(_.length).sum).toDouble
        filesWritten += (after.size - before.size).toDouble
      }
      (lat, traced)
    })
    val heapMb = run.heapPeakMb
    val m = store.maintain(run, feed.offered.size)

    val lat = samples.collect { case (Some(t), false) => t }
    val endToEnd = Seq(
      ("setup_s", Stats.median(setups.map(_._3)), "s"),
      ("op_p50_s", Stats.median(lat), "s"),
      ("store_bytes_per_record", m.bytesPerRecord, "B/record"))
    def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val perLayer = run.tracer.map(_.layers()).getOrElse(Map.empty) ++ Map(
      "offline.table_stats_build_s" -> m.statsS,
      "sinks.compact_s" -> m.compactS,
      "sinks.compact_bytes_rewritten" -> m.rewritten,
      "sources.malformed_dropped" -> mean(dropped),
      "sinks.bytes_written" -> mean(written),
      "sinks.files_written" -> mean(filesWritten),
      "jvm.heap_peak_mb" -> heapMb,
      "trace.overhead_s" -> Stats.overhead(samples))
    run.tracer.foreach(t => Json.writeLines(s"${run.work}/spans.jsonl", t.spansJson()))
    run.result(endToEnd, perLayer,
      store.checkJson(gen.expectations(feed.offered), "kind" -> "ingest"))
  }
}

object Stats {
  /** Median (the mean of the middle two for an even count); NaN for none. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Median traced op minus median untraced op. */
  def overhead(samples: Seq[(Option[Double], Boolean)]): Double =
    median(samples.collect { case (Some(t), true) => t }) -
      median(samples.collect { case (Some(t), false) => t })
}

/** Just enough JSON for the result file. */
object Json {
  final case class Raw(json: String)
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${quote(k)}:${value(v)}" }.mkString("{", ",", "}")
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def writeLines(path: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(UTF_8))
}
