package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.vera.{Export, Normalize, PgWire, Schemas, TableConfig}

/** The JVM half of the benchmark. `run.py` prepares the inputs (the seeded
  * query order, the Postgres cluster) and turns the raw record this program
  * writes into metrics and output checks.
  *
  * {{{
  * Main list --out FILE
  * Main registry --sf DIR --queries FILE --passes N --out FILE --trace 0|1 --cores N
  * Main export   --pg-port P --divisor D --rounds R --work DIR --out FILE --trace 0|1 --cores N
  * }}}
  */
object Main {

  private def opt(args: Map[String, String], k: String): String =
    args.getOrElse(k, sys.error(s"missing --$k"))

  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val args = argv.tail.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (mode == "list") {
      Files.writeString(Paths.get(opt(args, "out")),
        graft.SparkEntry.queries.keys.toSeq.sorted.mkString("", "\n", "\n"))
      return
    }
    val trace = opt(args, "trace") == "1"
    val cores = opt(args, "cores").toInt
    val rec = new Json.Obj
    val t0 = System.nanoTime()
    val spark = session(cores, trace)
    rec("session_start_s") = (System.nanoTime() - t0) / 1e9
    val fsClass = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration).getClass.getName
    require(!trace || fsClass == classOf[CountingFileSystem].getName,
      s"traced run needs the counting file system, got $fsClass")

    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    val queries = new QueryListener
    spark.listenerManager.register(queries)
    val tracer = new Tracer(spark)
    val bench = new Run(spark, tracer, listener, queries, rec, cores)
    tracer.scoped("workload", mode, 0) { id =>
      tracer.root = id
      mode match {
        case "registry" => bench.registry(opt(args, "sf"), opt(args, "queries"),
          opt(args, "passes").toInt, trace)
        case "export" => bench.export(opt(args, "pg-port").toInt, opt(args, "divisor").toInt,
          opt(args, "rounds").toInt, opt(args, "work"), trace)
        case other => sys.error(s"unknown mode $other")
      }
    }
    listener.drain()
    rec("query_executions") = queries.seen.asScala.toSeq.map(p => Json.obj(
      "start_ns" -> p.startNs, "analysis_ms" -> p.analysisMs,
      "optimization_ms" -> p.optimizationMs, "planning_ms" -> p.planningMs,
      "write_rows" -> p.writeRows))
    rec("spans") = tracer.spans.toSeq.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    rec("jobs") = listener.jobs.values().asScala.toSeq.sortBy(_.jobId).map { j =>
      Json.obj("id" -> j.jobId, "group" -> j.group, "start_ns" -> j.startNs,
        "end_ns" -> j.endNs, "stages" -> j.stages.size, "tasks" -> j.tasks,
        "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
        "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "shuffle_read_bytes" -> j.shuffleReadBytes, "spill_bytes" -> j.spillBytes,
        "scheduler_delay_ms" -> j.schedulerDelayMs,
        "write_tasks" -> j.writeTasks,
        "task_run_ms" -> j.taskRunMs.toSeq)
    }
    rec("vm_hwm_kb") = vmHwmKb()
    Files.writeString(Paths.get(opt(args, "out")), rec.render)
    spark.stop()
  }

  /** Session config of `graft.Bench`: local[cores], shuffle partitions =
    * cores, AQE on, the graft extensions. */
  def session(cores: Int, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set size of this JVM, from /proc/self/status. */
  def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
}

final class Run(spark: SparkSession, tracer: Tracer, listener: JobListener,
    queries: QueryListener, rec: Json.Obj, cores: Int) {

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def now() = System.nanoTime()

  /** Run `body` with the traced-run instruments on: per-task metrics and
    * the ERROR appender (the file-system counters are installed with the
    * session). */
  private def withTracing[T](body: => T): T = {
    listener.full = true
    val errors = ErrorCounter.install()
    try body
    finally {
      listener.drain()
      listener.full = false
      rec("error_lines") = errors.count.get
    }
  }

  private def fsDelta[T](body: => T): (T, Map[String, Long]) = {
    val before = FsCounters.snapshot()
    val out = body
    val after = FsCounters.snapshot()
    (out, after.map { case (k, v) => k -> (v - before(k)) })
  }

  // ------------------------------------------------------------ registry

  /** One query: build the frame (`fn(spark, dir)`), then force it through
    * the noop sink. The row count is the one the write itself committed
    * ([[QueryListener]]), so the timed write runs nothing extra. */
  private def query(name: String, fn: (SparkSession, String) => DataFrame, sf: String,
      pass: String): Json.Obj = {
    val o = Json.obj("name" -> name, "pass" -> pass)
    try {
      val (exec, span) = tracer.scoped(name, "query", 0) { qid =>
        val ((df, fs), build) = tracer.scoped(name, "build", qid)(_ => fsDelta(fn(spark, sf)))
        o("schema") = df.schema.catalogString
        // the frame is analysed inside fn; the write then re-analyses nothing
        o("build_analysis_ms") =
          df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
        o("build_fs") = Json.obj(fs.toSeq: _*)
        o("build_span") = build.id
        tracer.scoped(name, "exec", qid)(_ => noop(df))._2
      }
      o("exec_span") = exec.id
      o("rows") = writeRows(exec)
      o("span") = span.id
      o("wall_s") = (span.endNs - span.startNs) / 1e9
      o("ok") = true
    } catch {
      case NonFatal(e) =>
        o("ok") = false
        o("error") = String.valueOf(e.getMessage).take(300)
    }
    o
  }

  /** Rows the noop write inside `exec` committed, once its query-execution
    * event has arrived (-1 if none did). Waits outside every span. */
  private def writeRows(exec: Span): Long = {
    val deadline = System.nanoTime() + 10000000000L
    def find() = queries.seen.asScala.filter(p => p.writeRows >= 0 &&
      p.startNs >= exec.startNs - 2000000L && p.startNs <= exec.endNs).lastOption
    var hit = find()
    while (hit.isEmpty && System.nanoTime() < deadline) { Thread.sleep(2); hit = find() }
    hit.map(_.writeRows).getOrElse(-1L)
  }

  def registry(sf: String, queriesFile: String, passes: Int, trace: Boolean): Unit = {
    val all = graft.SparkEntry.queries
    val names = Files.readAllLines(Paths.get(queriesFile)).asScala.map(_.trim).filter(_.nonEmpty).toSeq
    names.foreach(n => require(all.contains(n), s"unknown query $n"))
    // graft.Bench's method: one warm-up pass, then the timed passes
    val t0 = now()
    names.foreach(n => query(n, all(n), sf, "warmup"))
    rec("warmup_s") = (now() - t0) / 1e9
    val timed = (1 to passes).flatMap(i => names.map(n => query(n, all(n), sf, s"timed$i")))
    val traced =
      if (!trace) Nil
      else withTracing(names.map(n => query(n, all(n), sf, "traced")))
    rec("queries") = timed ++ traced
  }

  // -------------------------------------------------------------- export

  /** Order keys: each table's primary key. */
  private val orderKey = Map(
    "code" -> "code_hash", "contracts" -> "id", "contract_deployments" -> "id",
    "compiled_contracts" -> "id", "compiled_contracts_sources" -> "id",
    "sources" -> "source_hash", "verified_contracts" -> "id")

  /** Tables with an integer key scan as `cores` range partitions. */
  private val partitionKey = Map(
    "verified_contracts" -> "id", "contract_deployments" -> "block_number")

  def export(port: Int, divisor: Int, rounds: Int, work: String, trace: Boolean): Unit = {
    val host = "127.0.0.1"
    val (db, user) = ("postgres", "graft")
    val tables: Seq[TableConfig] =
      Schemas.tables.map(c => c.copy(chunkSize = math.max(1, c.chunkSize / divisor)))
    def source(cfg: TableConfig): DataFrame = partitionKey.get(cfg.name) match {
      case Some(k) =>
        val (lo, hi) = PgWire.bounds(host, port, db, user, "vera", cfg.name, k)
        PgWire.scan(spark, host, port, db, user, "vera", cfg, Some(k), lo, hi + 1, cores)
      case None => PgWire.scan(spark, host, port, db, user, "vera", cfg)
    }
    def digest(cfg: TableConfig) =
      sum(xxhash64(cfg.schema.fieldNames.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))

    // warm-up: one untimed export of every table
    val t0 = now()
    Export.exportAll(tables.map(c => (source(c), c, Seq(orderKey(c.name)))), s"$work/warmup")
    rec("warmup_s") = (now() - t0) / 1e9

    val untraced = (0 until rounds).map { r =>
      val dir = s"$work/out/r$r"
      val (_, span) = tracer.scoped(s"round-r$r", "exportAll", 0) { _ =>
        Export.exportAll(tables.map(c => (source(c), c, Seq(orderKey(c.name)))), dir)
      }
      Json.obj("round" -> s"r$r", "dir" -> dir, "span" -> span.id,
        "wall_s" -> (span.endNs - span.startNs) / 1e9)
    }
    val traced =
      if (!trace) Nil
      else withTracing((0 until rounds).map(r => tracedRound(s"t$r", s"$work/out/t$r", tables, source)))
    rec("rounds") = untraced ++ traced

    // the source side of the output check
    rec("source") = tables.map { cfg =>
      val r = Normalize(source(cfg), cfg)
        .agg(count(lit(1)), digest(cfg)).collect().head
      Json.obj("table" -> cfg.name, "rows" -> r.getLong(0), "digest" -> String.valueOf(r.get(1)),
        "rows_per_file" -> cfg.rowsPerFile)
    }
    // read-back of every round's files, one job per table
    rec("files") = tables.flatMap { cfg =>
      val k = col(orderKey(cfg.name))
      val key = cfg.schema(orderKey(cfg.name)).dataType match {
        case BinaryType => hex(k)
        case LongType | IntegerType => lpad(k.cast("string"), 20, "0")
        case _ => k
      }
      spark.read.schema(cfg.schema).parquet(s"$work/out/*/${cfg.name}_[0-9]*.parquet")
        .withColumn("__file", input_file_name())
        .groupBy("__file")
        .agg(count(lit(1)), min(key), max(key), digest(cfg))
        .collect().toSeq.map { r =>
          Json.obj("table" -> cfg.name, "path" -> new java.net.URI(r.getString(0)).getPath,
            "rows" -> r.getLong(1), "min_key" -> r.getString(2), "max_key" -> r.getString(3),
            "digest" -> String.valueOf(r.get(4)))
        }
    }
  }

  /** The body of `Export.exportAll`, called table by table so each layer is
    * timed: scan into the noop sink (fetch), scan + Normalize into the noop
    * sink, `exportTable`, then `writeManifest`. */
  private def tracedRound(round: String, dir: String, tables: Seq[TableConfig],
      source: TableConfig => DataFrame): Json.Obj = {
    val o = Json.obj("round" -> round, "dir" -> dir)
    val (_, span) = tracer.scoped(s"round-$round", "exportAll", 0) { rid =>
      val entries = tables.map { cfg =>
        val op = s"$round/${cfg.name}"
        val (keys, _) = tracer.scoped(op, "table", rid) { tid =>
          tracer.scoped(op, "fetch", tid)(_ => noop(source(cfg)))
          tracer.scoped(op, "normalize", tid)(_ => noop(Normalize(source(cfg), cfg)))
          val ((files, fs), _) = tracer.scoped(op, "export", tid) { _ =>
            fsDelta(Export.exportTable(source(cfg), cfg, Seq(orderKey(cfg.name)), dir))
          }
          o(s"fs.${cfg.name}") = Json.obj(fs.toSeq: _*)
          files.map(_.objectName)
        }
        cfg.name -> keys
      }
      val ms = System.currentTimeMillis()
      tracer.scoped(s"round-$round", "manifest", rid) { _ =>
        Export.writeManifest(Export.Manifest(ms, java.time.Instant.ofEpochMilli(ms).toString,
          entries), dir, spark)
      }
    }
    o("span") = span.id
    o("wall_s") = (span.endNs - span.startNs) / 1e9
    o
  }
}

/** Just enough JSON output for the raw record. */
object Json {
  final class Obj {
    private val fields = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    def update(k: String, v: Any): Unit = fields(k) = v
    def render: String = Json.render(this)
    private[Json] def items = fields.toSeq
  }
  def obj(kv: (String, Any)*): Obj = { val o = new Obj; kv.foreach { case (k, v) => o(k) = v }; o }

  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def render(v: Any): String = v match {
    case null => "null"
    case o: Obj => o.items.map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
