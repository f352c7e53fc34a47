package perfbench

import graft.config.TaskConfig
import graft.config.TaskConfig.Node
import graft.connections.Connections
import graft.functions.TokenCounters
import graft.runner.{ProgressMeter, TaskLog, TaskRunner}
import graft.sinks.CsvSink
import graft.sources.Sources
import graft.transform.Transforms
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import scala.collection.mutable

/** Per-layer metrics (layer = module), each from timing a call into the
  * module's public functions on the workload's own inputs. Nothing here
  * is inside the program: the spans are the benchmark's calls.
  */
object Layers {

  /** Metrics every traced run reports; a layer a workload does not use
    * reads 0.
    */
  val names: Seq[String] = Seq(
    "sources.scan_s", "sources.rows", "sources.bytes",
    "transform.build_s", "transform.exec_s",
    "sinks.write_s", "sinks.tasks", "sinks.bytes",
    "tasks.empty_probe_s", "tasks.jobs",
    "connections.read_sql_s", "connections.write_table_s",
    "connections.exec_sql_s", "connections.jdbc_write_s",
    "ops.curate_s", "ops.curate_tokens_s",
    "functions.bpe_ns_per_byte", "functions.tokens",
    "plan.analyze_s", "plan.optimize_s", "plan.physical_s",
    "exec.cpu_s", "exec.run_s", "exec.gc_s", "exec.slot_util", "exec.stages",
    "exec.tasks", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "config.parse_s", "trace.overhead_s") ++
    Workloads.all.flatMap(w => w.items(Inputs.sizes(w.name)).map(i => s"runner.item_s.${i.name}"))

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** `exec.*` from one task-file run's listener totals. */
  def exec(st: StageStats, wall: Double, cores: Int): Map[String, Double] = Map(
    "exec.cpu_s" -> st.cpuNs / 1e9,
    "exec.run_s" -> st.runMs / 1e3,
    "exec.gc_s" -> st.gcMs / 1e3,
    "exec.slot_util" -> st.runMs / 1e3 / (wall * cores),
    "exec.stages" -> st.stages.toDouble,
    "exec.tasks" -> st.tasks.toDouble,
    "exec.shuffle_read_bytes" -> st.shuffleRead.toDouble,
    "exec.shuffle_write_bytes" -> st.shuffleWrite.toDouble,
    "exec.spill_bytes" -> st.spill.toDouble,
    "tasks.jobs" -> st.jobs.toDouble)

  /** Analysis, optimization and physical planning of `df`'s plan, each
    * forced in turn on a fresh `QueryExecution`.
    */
  private def phases(df: DataFrame, m: mutable.Map[String, Double]): Unit = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val qe = new QueryExecution(ds.sparkSession, ds.queryExecution.logical)
    m("plan.analyze_s") += seconds(qe.analyzed)._2
    m("plan.optimize_s") += seconds(qe.optimizedPlan)._2
    m("plan.physical_s") += seconds(qe.executedPlan)._2
  }

  /** One pass over the task file's items, calling each layer the way
    * `Tasks` does for that item type.
    */
  private def pass(spark: SparkSession, work: String, file: TaskConfig.TaskFile): mutable.Map[String, Double] = {
    val m = mutable.Map[String, Double]().withDefaultValue(0.0)
    val conns = new Connections(file, spark)
    val log = TaskLog.Silent
    def input(item: Node) = s"$work/input/${item("source").str("file")}"
    file.tasks.foreach { item =>
      val kind = item.str("type")
      val source: Option[() => DataFrame] = kind match {
        case "csv-csv" | "csv-db" => Some(() => Sources.csv(spark, input(item), item("source")))
        case "curate"             => Some(() => spark.read.parquet(input(item)))
        case "db-db" | "db-csv"   => Some(() => conns.readSql(
          conns.get(item("source").str("connection")), Sources.parseSql(item("source"))))
        case _                    => None
      }
      source.foreach { make =>
        val (_, scan, st) = StageStats.measure(spark)(noop(make()))
        if (kind.startsWith("db-")) m("connections.read_sql_s") += scan
        else {
          m("sources.scan_s") += scan
          m("sources.rows") += st.recordsRead.toDouble
          m("sources.bytes") += st.bytesRead.toDouble
        }
        m("tasks.empty_probe_s") += seconds(make().isEmpty)._2
        val src = make()
        val (out, build) = seconds(Transforms(src, item, log, Some(work)))
        if (item.has("transform") || item.has("transforms")) {
          m("transform.build_s") += build
          m("transform.exec_s") += seconds(noop(out))._2 - scan
        }
        kind match {
          case "curate" =>
            // the item's own op, then the q93 terminal on the same source
            val (curated, built) = seconds(CurateTokens.curateTokens(spark, out))
            phases(curated, m)
            m("ops.curate_tokens_s") += built + seconds(noop(curated))._2
            m("ops.curate_s") += seconds(noop(CurateTokens.curate(spark, out)))._2
          case _ =>
            phases(out, m)
        }
        val tgt = item("target")
        kind match {
          case "csv-csv" | "db-csv" =>
            val (_, write, st) = StageStats.measure(spark)(
              CsvSink.write(out, s"$work/trace/${tgt.str("file")}", tgt, tgt.bool("truncate")))
            m("sinks.write_s") += write
            m("sinks.tasks") += st.lastStageTasks.toDouble
            m("sinks.bytes") += st.bytesWritten.toDouble
          case "csv-db" | "db-db" =>
            val conn = conns.get(tgt.str("connection"))
            def write(df: DataFrame) =
              conns.writeTable(conn, df, tgt.str("table"), tgt.strOpt("schema"), tgt.bool("truncate"))
            if (conns.isInternal(conn)) m("connections.write_table_s") += seconds(write(out))._2
            else {
              val meter = new ProgressMeter(log)
              m("connections.jdbc_write_s") += seconds(meter.metered(spark)(write(meter.wrap(out))))._2
            }
          case _ => ()
        }
      }
      if (kind == "sql-exec")
        m("connections.exec_sql_s") += seconds(conns.execSql(
          conns.get(item("target").str("connection")), Sources.parseSql(item("source"))))._2
    }
    m
  }

  /** Every layer metric but `exec.*`, `tasks.jobs` and
    * `trace.overhead_s`, which come from the traced task-file runs.
    */
  def probe(spark: SparkSession, wl: Workload, work: String, taskPath: String): Map[String, Double] = {
    val file = TaskConfig.parseFile(taskPath)
    val m = pass(spark, work, file)

    m("config.parse_s") = median(Seq.fill(21)(seconds(TaskConfig.parseFile(taskPath))._2))

    if (wl == CurateTokens) {
      val texts = CurateTokens.docs(spark, work).select("text").collect().map(_.getString(0))
      val bytes = texts.map(_.getBytes(UTF_8).length.toLong).sum
      val encoder = TokenCounters.encoderForName("bpe")
      val timed = Seq.fill(3)(seconds(texts.map(t => encoder.encodeTokens(t).length.toLong).sum))
      m("functions.tokens") = timed.head._1.toDouble
      m("functions.bpe_ns_per_byte") = median(timed.map(_._2)) * 1e9 / bytes
    }

    // each item alone, as a one-item task file, in task-file order (so
    // an item finds what the items before it leave behind)
    val root = org.json4s.jackson.JsonMethods.parse(new String(Files.readAllBytes(Paths.get(taskPath)), UTF_8))
    file.tasks.foreach { item =>
      val name = item.str("name")
      val one = org.json4s.JObject(
        "connections" -> (root \ "connections"), "tasks" -> org.json4s.JArray(List(item.j)))
      val path = s"$work/item_$name.json"
      Files.write(Paths.get(path), org.json4s.jackson.JsonMethods.compact(one).getBytes(UTF_8))
      m(s"runner.item_s.$name") = seconds(TaskRunner.runFile(path, spark, work, log = TaskLog.Silent))._2
    }
    m.toMap
  }
}
