package perfbench

import graft.runner.{TaskLog, TaskRunner}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The benchmark's JVM side. `run.py` builds it and launches it:
  *
  *   perfbench.Main gen --workload W --seed N --inputs DIR
  *   perfbench.Main run --workload W --inputs DIR --work DIR --cores N --launch-ms T
  *                      --seconds S --trace 0|1 --out FILE
  *
  * `gen` writes the seeded inputs. `run` sets up (session ready, inputs
  * staged), then runs the workload's task file through
  * `TaskRunner.runFile`: once cold, the workload's warm-up runs, then
  * warm runs for S seconds (at least three), one task file at a time (a
  * closed loop with one client), checking every item's output after
  * every run. With `--trace 1` it then calls each layer on its own.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val o = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("gen")   => Inputs.generate(o("workload"), o("seed").toLong, Paths.get(o("inputs")))
      case Some("run")   =>
        run(o)
        // the artifact is written and the work directory is thrown away:
        // skip the second or so Spark's shutdown hooks would take
        sys.runtime.halt(0)
      case _             => throw new IllegalArgumentException("usage: gen | run, see Main")
    }
  }

  private def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(UTF_8))

  /** Session ready and inputs staged, timed from the JVM's launch.
    * The program's own session builder, on `local[cores]`.
    */
  private def setup(o: Map[String, String]): (SparkSession, Double) = {
    val spark = graft.Main.buildSession(o("cores"))
    spark.sparkContext.setLogLevel("WARN")
    val work = Paths.get(o("work"))
    Files.createDirectories(work.resolve("db"))
    Files.list(Paths.get(o("inputs"))).forEach { p =>
      val name = p.getFileName.toString
      // the Derby database lives under db/, everything else under input/
      Inputs.stage(p, if (name == "derby") work.resolve("db/derby") else work.resolve(s"input/$name"))
    }
    (spark, (System.currentTimeMillis() - o("launch-ms").toLong) / 1e3)
  }

  /** Records the items the runner finished (its own log line). */
  private final class Finished extends TaskLog {
    val names = ArrayBuffer[String]()
    private val done = "Task item finished: (.*), time: .*".r
    def write(msg: String): Unit = msg match {
      case done(name) => names += name
      case _          => ()
    }
  }

  /** One task-file run as the runner left it: the items it finished,
    * the exception that stopped it, listener totals when listened.
    */
  final case class Attempt(wall: Double, finished: Seq[String], error: Option[String],
                           exec: Map[String, Double])

  /** An attempt after its outputs were checked. */
  final case class Run(wall: Double, ok: Seq[Boolean], rowsOk: Long, error: Option[String],
                       exec: Map[String, Double])

  private def run(o: Map[String, String]): Unit = {
    val wl = Workloads(o("workload"))
    val sizes = Inputs.sizes(wl.name)
    val items = wl.items(sizes)
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val (spark, setupS) = setup(o)
    val cores = spark.sparkContext.defaultParallelism
    val work = o("work")
    val taskPath = s"$work/task.json"
    write(taskPath, wl.taskFile(work, sizes))

    // One task-file run; an exception stops the runner, so the item that
    // threw and every item after it count as failed.
    def execute(withListener: Boolean): Attempt = {
      val log = new Finished
      def body(): Option[String] =
        try { TaskRunner.runFile(taskPath, spark, work, log); None }
        catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      if (withListener) {
        val (err, wall, st) = StageStats.measure(spark)(body())
        Attempt(wall, log.names.toSeq, err, Layers.exec(st, wall, cores))
      } else {
        val (err, wall) = Layers.seconds(body())
        Attempt(wall, log.names.toSeq, err, Map.empty)
      }
    }

    val phase = scala.collection.mutable.LinkedHashMap[String, Double]()
    def timed[A](name: String)(body: => A): A = {
      val (a, s) = Layers.seconds(body)
      phase(name) = s
      a
    }
    val cold = execute(withListener = false)
    val expected = timed("expected_s")(wl.expected(spark, work))
    require(expected.keySet == items.map(_.name).toSet, "every item needs an expected output")

    // A failed item keeps its wall time in the run; its rows leave
    // rows_per_s. A check that cannot be computed fails every item.
    def checked(a: Attempt): Run = {
      val (actual, checkErr) =
        try (wl.actual(spark, work, expected), None)
        catch { case NonFatal(e) => (Map.empty[String, Fingerprint], Some(s"check: ${e.getMessage}")) }
      val ok = items.map(i => a.finished.contains(i.name) && actual.get(i.name).contains(expected(i.name)))
      items.zip(ok).filterNot(_._2).foreach { case (i, _) =>
        System.err.println(s"[perfbench] item ${i.name} failed: ${a.error.orElse(checkErr)
          .getOrElse(s"output ${actual.get(i.name)}, expected ${expected(i.name)}")}")
      }
      Run(a.wall, ok, items.zip(ok).collect { case (i, true) => i.sourceRows }.sum,
        a.error.orElse(checkErr), a.exec)
    }

    val runs = ArrayBuffer(timed("check_s")(checked(cold)))
    timed("warmup_s")((1 to wl.warmups).foreach(_ => runs += checked(execute(withListener = false))))
    val plain, listened = ArrayBuffer[Run]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // a traced run alternates runs without and with the listener
    val minimum = if (traced) 2 else 3
    while (elapsed < seconds || plain.size < minimum || (traced && listened.size < minimum)) {
      plain += checked(execute(withListener = false))
      if (traced) listened += checked(execute(withListener = true))
    }
    runs ++= plain ++= listened
    phase("measure_s") = elapsed

    val walls = plain.map(_.wall).toSeq
    val taskFileS = Layers.median(walls)
    val attempted = runs.size * items.size
    val failed = runs.map(_.ok.count(!_)).sum
    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }.getOrElse(0L)
    val endToEnd = Map(
      "setup_s" -> setupS,
      "cold_task_file_s" -> cold.wall,
      "task_file_s" -> taskFileS,
      "rows_per_s" -> Layers.median(plain.map(_.rowsOk.toDouble).toSeq) / taskFileS,
      "peak_rss_mb" -> hwmKb / 1024.0)
    val perLayer: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val execMedians = listened.head.exec.keys.map(k => k -> Layers.median(listened.map(_.exec(k)).toSeq))
        val probed = timed("layers_s")(Layers.probe(spark, wl, work, taskPath))
        Layers.names.map(_ -> 0.0).toMap ++ probed ++ execMedians +
          ("trace.overhead_s" -> (Layers.median(listened.map(_.wall).toSeq) - taskFileS))
      }

    // the highest percentile with at least ten samples beyond it
    val tail = Seq(99, 95, 90, 75, 50).find(p => walls.size * (100 - p) / 100.0 >= 10)
      .map(p => Map(s"p$p" -> walls.sorted.apply(math.ceil(walls.size * p / 100.0).toInt - 1)))
    import org.json4s.jackson.Serialization
    val artifact = Map(
      "workload" -> wl.name,
      "trace" -> traced,
      "cores" -> cores,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "load" -> "closed loop, 1 client, one task file at a time",
      "input_rows" -> sizes,
      "items" -> items.map(i => Map("name" -> i.name, "source_rows" -> i.sourceRows,
        "expected" -> expected(i.name).toString)),
      "warmups" -> wl.warmups,
      "task_file_samples" -> walls.size,
      "task_file_walls_s" -> walls,
      "task_file_tail_s" -> tail.orNull,
      "traced_walls_s" -> listened.map(_.wall).toSeq,
      "attempted" -> attempted,
      "failed" -> failed,
      "fail_ratio" -> failed.toDouble / attempted,
      "errors" -> runs.flatMap(_.error).distinct.toSeq,
      "phase_s" -> phase.toMap,
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer)
    write(o("out"), Serialization.writePretty(artifact)(org.json4s.DefaultFormats))
  }
}
