package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.GraftSession
import graft.ingest.{Normalize, ReportFormat, ReportPipeline, Sinks}
import graft.ops.{Checkpoints, GraphMiningOps, Relational, RelationalExt, VectorOps}

/** JVM side of the benchmark: one workload in one fresh JVM and session.
  *
  *   catalog  work= data= seed= settle= passes= trace= cores= queries=q1,q2,...
  *   ingest   work= stage= days= settle= passes= trace= cores=
  *   arity    work= data= cores= queries=...
  *
  * Set-up is session creation plus one untimed warm pass whose outputs are
  * kept for the correctness check (catalog results as parquet, ingest
  * tables as written). `settle` untimed passes let the JIT finish warming;
  * then `passes` timed passes run in a closed loop with one client. With trace=1 every untraced pass is followed by a
  * traced one (listeners on, spans recorded), so the same run yields both
  * wall times and the tracing overhead. Raw measurements go to
  * work/results.json, spans to work/spans.jsonl; perfbench/run.py turns
  * them into metrics.
  */
object BenchRunner {
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  final case class Op(pass: Int, traced: Boolean, name: String, latencyS: Double,
                      releaseS: Double, pinnedMb: Double, error: Option[String],
                      newRecords: Long = 0, parsed: Long = 0, files: Long = 0)

  def main(args: Array[String]): Unit = {
    val kv = args.drop(1).map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val work = Paths.get(kv("work")).toAbsolutePath
    Files.createDirectories(work)
    val t0 = System.nanoTime()
    val spark = GraftSession.localBuilder(kv("cores").toInt)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(t0)
    val out = new Results(sessionS)
    // isolation: a catalog run must not inherit the ingest's LAST_WIN policy
    out.str("dedup_policy_at_start", spark.conf.get("spark.sql.mapKeyDedupPolicy"))
    try args(0) match {
      case "catalog" => catalog(spark, kv, work, out)
      case "ingest" => ingest(spark, kv, work, out)
      case "arity" => arity(spark, kv, work, out)
    } finally {
      out.num("peak_rss_mb", peakRssMb)
      Files.writeString(work.resolve("results.json"), out.json)
      spark.stop()
    }
  }

  private val catalogs =
    Relational.catalog ++ RelationalExt.catalog ++ GraphMiningOps.catalog ++ VectorOps.catalog

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  private def errText(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString.take(300)

  /** Untimed warm pass, `settle` untimed passes (numbered -1, -2, ...), then
    * `passes` timed passes, each paired with a traced one when tracing. */
  private def loop(spark: SparkSession, kv: Map[String, String], out: Results,
                   warm: => Unit)(pass: (Int, Option[Tracer]) => Unit): Option[Tracer] = {
    val w0 = System.nanoTime()
    warm
    out.num("warm_s", secs(w0))
    val s0 = System.nanoTime()
    for (k <- 1 to kv("settle").toInt) pass(-k, None)
    out.num("settle_s", secs(s0))
    val tracer = if (kv("trace") == "1") Some(new Tracer(spark)) else None
    def traced(p: Int): Unit = tracer.foreach { t => t.enable(); pass(p, Some(t)); t.disable() }
    // alternate which of the pair runs first, so JIT drift does not bias
    // the traced-minus-untraced overhead
    for (p <- 1 to kv("passes").toInt) {
      if (p % 2 == 0) traced(p)
      pass(p, None)
      if (p % 2 == 1) traced(p)
    }
    tracer
  }

  private def catalog(spark: SparkSession, kv: Map[String, String], work: Path,
                      out: Results): Unit = {
    val data = kv("data")
    val queries = kv("queries").split(',').toSeq
    val fns = catalogs.map(c => c._1 -> c._2).toMap
    Files.writeString(work.resolve("oracle_sql.json"), graft.Verify.oracleJson(
      catalogs.collect { case (n, _, Some(sql)) if queries.contains(n) => n -> sql }.toMap))
    val seed = kv("seed").toLong
    def order(pass: Int) = new scala.util.Random(seed * 1000 + pass).shuffle(queries)

    val tracer = loop(spark, kv, out, warm = order(0).foreach { q =>
      try fns(q)(spark, data).write.mode("overwrite").parquet(work.resolve(s"check/$q").toString)
      catch { case e: Throwable => out.setupErrors(q) = errText(e) }
      Checkpoints.releaseAll(spark)
    }) { (p, tracer) =>
      val p0 = System.nanoTime()
      order(p).foreach { q =>
        val opId = tracer.map(_.newId()).getOrElse(0L)
        val s0 = tracer.map(_.nowUs).getOrElse(0L)
        def span[T](name: String)(body: => T): T =
          tracer.map(_.span(name, opId, opId)(body)).getOrElse(body)
        val t0 = System.nanoTime()
        val err =
          try {
            val df = span("build")(fns(q)(spark, data))
            tracer.foreach(_.noteAnalysis(df))
            span("execute")(noop(df))
            None
          } catch { case e: Throwable => Some(errText(e)) }
        val latency = secs(t0)
        var pinned, release = 0.0
        span("release") {
          if (tracer.isDefined) pinned = storageMb(spark)
          val r0 = System.nanoTime()
          Checkpoints.releaseAll(spark)
          release = secs(r0)
        }
        tracer.foreach(t => t.record(Span(opId, 0, opId, s"op:$q", s0, t.nowUs)))
        out.ops += Op(p, tracer.isDefined, q, latency, release, pinned, err)
      }
      out.passes += ((p, tracer.isDefined, secs(p0)))
    }
    tracer.foreach(out.trace(_, work))
  }

  private def ingest(spark: SparkSession, kv: Map[String, String], work: Path,
                     out: Results): Unit = {
    val stage = Paths.get(kv("stage"))
    val days = kv("days").toInt
    val genDate = lit("2026-01-01 00:00:00")
    def listDir(d: Path): Seq[Path] =
      if (Files.isDirectory(d)) Files.list(d).iterator.asScala.toSeq.sortBy(_.toString) else Nil

    // One pass: a fresh landing root that grows by one day at a time. Each
    // operation is one module's ingest of that day: it re-scans the whole
    // root (ERP *.TXT files or ISU *.zip archives) into CSV plus parquet.
    def pass(p: Int, tracer: Option[Tracer], days: Int): Unit = {
      val dir = work.resolve(s"ingest/p$p${if (tracer.isDefined) "t" else ""}")
      val root = dir.resolve("landing")
      val sink = dir.resolve("out")
      var wall = 0.0
      for (day <- 1 to days) {
        val dayDir = stage.resolve(f"day_$day%02d")
        val erpDir = Files.createDirectories(root.resolve(f"erp/day_$day%02d"))
        listDir(dayDir.resolve("erp")).foreach(f => Files.createLink(erpDir.resolve(f.getFileName), f))
        listDir(dayDir.resolve("isu")).foreach(f => Files.createLink(root.resolve(f.getFileName), f))

        def op(tag: String, files: Long, parse: => DataFrame, normalize: DataFrame => DataFrame,
               records: => DataFrame): Unit = {
          val name = f"day_$day%02d/$tag"
          val opId = tracer.map(_.newId()).getOrElse(0L)
          val s0 = tracer.map(_.nowUs).getOrElse(0L)
          def span[T](name: String)(body: => T): T =
            tracer.map(_.span(name, opId, opId)(body)).getOrElse(body)
          val csv = sink.resolve(s"${tag}_csv").toString
          val table = sink.resolve(s"${tag}_parquet").toString
          var parsed, fresh = 0L
          val t0 = System.nanoTime()
          val err =
            try {
              if (tracer.isEmpty) {
                // the program's own path: ReportPipeline.run's cache + two sinks
                val recs = records.cache()
                try {
                  Sinks.writeCsv(recs, csv)
                  fresh = Sinks.appendNewReportsOnly(spark, recs, table)
                } finally recs.unpersist()
              } else {
                // traced: materialize at each module boundary to split the layers
                val blocks = span("ingest.parse") { val b = parse.cache(); b.count(); b }
                val recs = span("ingest.normalize") {
                  val r = normalize(blocks).cache(); parsed = r.count(); r }
                try {
                  span("ingest.csv_write")(Sinks.writeCsv(recs, csv))
                  fresh = span("ingest.append")(Sinks.appendNewReportsOnly(spark, recs, table))
                } finally { recs.unpersist(); blocks.unpersist() }
              }
              None
            } catch { case e: Throwable => Some(errText(e)) }
          val latency = secs(t0)
          wall += latency
          tracer.foreach(t => t.record(Span(opId, 0, opId, s"op:$name", s0, t.nowUs)))
          out.ops += Op(p, tracer.isDefined, name, latency, 0.0, 0.0, err,
            newRecords = fresh, parsed = parsed, files = files)
        }
        op("erp", Files.walk(root.resolve("erp")).iterator.asScala.count(Files.isRegularFile(_)).toLong,
          ReportFormat.parseDirectory(spark, root.toString),
          Normalize.erpRecords(_, "ERP", genDate),
          ReportPipeline.ingest(spark, root.toString, "ERP", generationDate = genDate))
        op("isu", listDir(root).count(_.toString.endsWith(".zip")).toLong,
          ReportFormat.parseZippedDirectory(spark, root.toString),
          Normalize.isuRecords(_, "ISU", genDate),
          ReportPipeline.ingestZipped(spark, root.toString, genDate))
      }
      // pass wall: the operations only, not the untimed file staging
      out.passes += ((p, tracer.isDefined, wall))
    }
    // the warm pass covers both code paths in two days: a first day with no
    // table yet, and a later day with the anti-join against it
    val tracer = loop(spark, kv, out, warm = pass(0, None, 2))(pass(_, _, days))
    tracer.foreach(out.trace(_, work))
  }

  /** Self-test: the timed action writes every column of each query. */
  private def arity(spark: SparkSession, kv: Map[String, String], work: Path,
                    out: Results): Unit = {
    val fns = catalogs.map(c => c._1 -> c._2).toMap
    val t = new Tracer(spark)
    t.enable()
    kv("queries").split(',').foreach { q =>
      val df = fns(q)(spark, kv("data"))
      val before = { t.drain(); t.writeArity.size }
      noop(df)
      t.drain()
      val written = if (t.writeArity.size > before) t.writeArity.last else -1
      out.arity += ((q, written, df.columns.length))
      Checkpoints.releaseAll(spark)
    }
    t.disable()
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)
}

/** Raw measurements, written as one JSON object. */
final class Results(sessionS: Double) {
  import BenchRunner.Op
  private val fields = mutable.LinkedHashMap[String, String]("session_s" -> Results.num(sessionS))
  val ops = mutable.ArrayBuffer.empty[Op]
  val passes = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
  val setupErrors = mutable.LinkedHashMap.empty[String, String]
  val arity = mutable.ArrayBuffer.empty[(String, Int, Int)]

  def num(k: String, v: Double): Unit = fields(k) = Results.num(v)
  def str(k: String, v: String): Unit = fields(k) = Results.q(v)

  /** Per-tag listener counters and Catalyst phases; spans to spans.jsonl,
    * with one `plan` span per query execution under the op it ran in. */
  def trace(t: Tracer, work: Path): Unit = {
    val ops = t.spans.filter(_.name.startsWith("op:"))
    t.planWindows.foreach { case (s, e) =>
      ops.find(o => o.startUs <= s * 1000 && s * 1000 <= o.endUs).foreach { o =>
        t.record(Span(t.newId(), o.id, o.id, "plan", s * 1000, e * 1000))
      }
    }
    Files.write(work.resolve("spans.jsonl"), t.spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Results.q(s.name)},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}"""
    }.asJava)
    fields("phases_ms") = t.phaseMs.map { case (k, v) => s"${Results.q(k)}:$v" }.mkString("{", ",", "}")
    fields("tags") = t.byTag.map { case (tag, a) =>
      Results.q(tag) + ":" + Seq("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs, "delay_ms" -> a.delayMs,
        "fetch_wait_ms" -> a.fetchWaitMs, "shuffle_write" -> a.shuffleWrite,
        "shuffle_read" -> a.shuffleRead, "spill" -> a.spill, "input_bytes" -> a.inputBytes,
        "input_rows" -> a.inputRows, "output_bytes" -> a.outputBytes)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
  }

  def json: String = {
    val opJs = ops.map { o =>
      s"""{"pass":${o.pass},"traced":${o.traced},"name":${Results.q(o.name)},""" +
        s""""latency_s":${Results.num(o.latencyS)},"release_s":${Results.num(o.releaseS)},""" +
        s""""pinned_mb":${Results.num(o.pinnedMb)},"error":${o.error.map(Results.q).getOrElse("null")},""" +
        s""""new":${o.newRecords},"parsed":${o.parsed},"files":${o.files}}"""
    }
    val passJs = passes.map { case (p, tr, w) => s"""{"pass":$p,"traced":$tr,"wall_s":${Results.num(w)}}""" }
    val all = fields ++ Seq(
      "ops" -> opJs.mkString("[", ",", "]"),
      "passes" -> passJs.mkString("[", ",", "]"),
      "setup_errors" -> setupErrors.map { case (k, v) => s"${Results.q(k)}:${Results.q(v)}" }
        .mkString("{", ",", "}"),
      "arity" -> arity.map { case (q, w, c) => s"[${Results.q(q)},$w,$c]" }.mkString("[", ",", "]"))
    all.map { case (k, v) => s"${Results.q(k)}:$v" }.mkString("{\n", ",\n", "\n}\n")
  }
}

object Results {
  def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
