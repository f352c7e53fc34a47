package perfbench

import graft.functions.TokenCounters
import graft.ops.Curation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One task item: its name, its task-file node, and the source rows it
  * consumes when it succeeds (for `rows_per_s`).
  */
final case class Item(name: String, node: String, sourceRows: Long)

/** A workload: a task file over generated inputs, plus an independent
  * computation of what each item must leave behind.
  */
trait Workload {
  def name: String
  /** Warm task-file runs before timing starts: without them the first
    * warm runs are still getting faster (JIT compilation).
    */
  def warmups: Int
  def items(s: Inputs.Sizes): Seq[Item]
  def connections(work: String): String = "[]"

  def taskFile(work: String, s: Inputs.Sizes): String =
    s"""{"connections": ${connections(work)},
       | "tasks": [${items(s).map(_.node).mkString(",\n  ")}]}""".stripMargin

  /** Expected fingerprint per item, computed without the runner. */
  def expected(spark: SparkSession, work: String): Map[String, Fingerprint]

  /** Fingerprint per item of the outputs the last task-file run left. */
  def actual(spark: SparkSession, work: String,
             expected: Map[String, Fingerprint]): Map[String, Fingerprint]
}

object Workloads {
  val all: Seq[Workload] = Seq(CsvTransform, SqlRoundtrip, CurateTokens)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload: $name"))

  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("sep", ";").csv(path)

  def quote(s: String): String = org.json4s.jackson.JsonMethods.compact(org.json4s.JString(s))
}

/** The paper's own surface: csv-csv through the whole transform block
  * (modules, convert, filter, remove, rename) into the single-file CSV
  * sink, a truncating item and an appending one on the same file.
  */
object CsvTransform extends Workload {
  val name = "csv_transform"
  val warmups = 2

  private val removed = Set("l_suppkey", "l_tax")
  private val renamed = Map("l_orderkey" -> "order_key", "l_extendedprice" -> "price")

  private def node(name: String, filter: String, truncate: Boolean) =
    s"""{"name": "$name", "type": "csv-csv",
       |  "source": {"file": "lineitem.csv"},
       |  "transforms": [{"module": "empty_as_null"}, {"module": "sanitize_string"}],
       |  "transform": {
       |    "convert": [["l_quantity", "float"], ["l_extendedprice", "float"],
       |                ["l_returnflag", "lower"], ["l_comment", "strip"]],
       |    "filter": "$filter",
       |    "remove": [${removed.toSeq.sorted.map(r => s""""$r"""").mkString(", ")}],
       |    "rename": [${renamed.toSeq.sorted.map { case (a, b) => s"""["$a", "$b"]""" }.mkString(", ")}]},
       |  "target": {"file": "lines.csv", "truncate": $truncate}}""".stripMargin

  def items(s: Inputs.Sizes): Seq[Item] = Seq(
    Item("open_lines", node("open_lines", "{l_quantity} > 10 and {l_linestatus} == 'O'", truncate = true), s.lineitem),
    Item("small_returns", node("small_returns", "{l_returnflag} == 'r' and {l_quantity} <= 5", truncate = false), s.lineitem))

  /** The transform block and the CSV writer, line by line in a plain
    * JVM: `''` reads as null, control characters become spaces, `float`
    * is `Double.toString`, `strip` trims spaces, null writes as empty.
    */
  def expected(spark: SparkSession, work: String): Map[String, Fingerprint] = {
    val src = scala.io.Source.fromFile(s"$work/input/lineitem.csv", "UTF-8")
    try {
      val lines = src.getLines()
      val header = lines.next().split(";", -1)
      val at = header.zipWithIndex.toMap
      val kept = header.indices.filterNot(i => removed(header(i)))
      val outHeader = kept.map(i => renamed.getOrElse(header(i), header(i))).mkString(";")
      val open = Array(1L, Fingerprint.lineHash(outHeader)) // the truncating item writes the header
      val returns = Array(0L, 0L)
      lines.foreach { line =>
        val f: Array[String] = line.split(";", -1).map { v =>
          if (v.isEmpty) null else v.map(c => if (c < 0x20) ' ' else c)
        }
        val qty = f(at("l_quantity")).toDouble
        f(at("l_quantity")) = qty.toString
        f(at("l_extendedprice")) = f(at("l_extendedprice")).toDouble.toString
        f(at("l_returnflag")) = f(at("l_returnflag")).toLowerCase(java.util.Locale.ROOT)
        val c = at("l_comment")
        if (f(c) != null) f(c) = f(c).dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
        def add(acc: Array[Long]): Unit = {
          acc(0) += 1
          acc(1) += Fingerprint.lineHash(kept.map(i => Option(f(i)).getOrElse("")).mkString(";"))
        }
        if (qty > 10 && f(at("l_linestatus")) == "O") add(open)
        if (f(at("l_returnflag")) == "r" && qty <= 5) add(returns)
      }
      def fp(item: String, acc: Array[Long]) =
        item -> Fingerprint.requireRows(item, Fingerprint(acc(0), java.lang.Long.toHexString(acc(1))))
      Map(fp("open_lines", open), fp("small_returns", returns))
    } finally src.close()
  }

  /** Both items write one file: the truncating item's header and rows
    * first, the appended rows after them.
    */
  def actual(spark: SparkSession, work: String,
             expected: Map[String, Fingerprint]): Map[String, Fingerprint] = {
    val src = scala.io.Source.fromFile(s"$work/output/lines.csv", "UTF-8")
    try {
      val lines = src.getLines()
      val first = Fingerprint.ofLines(lines.take(expected("open_lines").rows.toInt))
      Map("open_lines" -> first, "small_returns" -> Fingerprint.ofLines(lines))
    } finally src.close()
  }
}

/** Catalog writes beside reads on `connections`: CSV loads into Spark
  * tables, a join+aggregate between them, a `sql-exec` insert, a CSV
  * export, and a Derby JDBC round trip.
  */
object SqlRoundtrip extends Workload {
  val name = "sql_roundtrip"
  val warmups = 1

  private val revenueSql =
    "SELECT o.o_orderpriority AS priority, l.l_returnflag AS returnflag, " +
      "year(to_date(o.o_orderdate)) AS order_year, count(*) AS n_lines, " +
      "sum(cast(round(l.l_extendedprice * 100) AS BIGINT)) AS revenue_cents " +
      "FROM {lineitem} l JOIN {orders} o ON l.l_orderkey = o.o_orderkey " +
      "GROUP BY o.o_orderpriority, l.l_returnflag, year(to_date(o.o_orderdate))"
  private val totalsSql =
    "SELECT o.o_orderpriority, 'ALL', 0, count(*), " +
      "sum(cast(round(l.l_extendedprice * 100) AS BIGINT)) " +
      "FROM {lineitem} l JOIN {orders} o ON l.l_orderkey = o.o_orderkey " +
      "WHERE l.l_quantity > 25 GROUP BY o.o_orderpriority"

  private def tables(sql: String, lineitem: String, orders: String) =
    sql.replace("{lineitem}", lineitem).replace("{orders}", orders)

  override def connections(work: String): String =
    s"""[{"name": "spark", "driver": "Spark"},
       |  {"name": "derby", "driver": "Derby", "database": ${Workloads.quote(s"$work/db/derby")}}]""".stripMargin

  def items(s: Inputs.Sizes): Seq[Item] = Seq(
    Item("load_lineitem",
      """{"name": "load_lineitem", "type": "csv-db", "source": {"file": "lineitem.csv"},
        |  "transform": {"convert": [["l_orderkey", "int"], ["l_quantity", "float"], ["l_extendedprice", "float"]]},
        |  "target": {"connection": "spark", "table": "bench_lineitem", "truncate": true}}""".stripMargin,
      s.lineitem),
    Item("load_orders",
      """{"name": "load_orders", "type": "csv-db", "source": {"file": "orders.csv"},
        |  "transform": {"convert": [["o_orderkey", "int"], ["o_custkey", "int"], ["o_totalprice", "float"]]},
        |  "target": {"connection": "spark", "table": "bench_orders", "truncate": true}}""".stripMargin,
      s.orders),
    Item("revenue",
      s"""{"name": "revenue", "type": "db-db",
         |  "source": {"connection": "spark", "command": ${Workloads.quote(tables(revenueSql, "bench_lineitem", "bench_orders"))}},
         |  "target": {"connection": "spark", "table": "bench_revenue", "truncate": true}}""".stripMargin,
      s.lineitem + s.orders),
    Item("revenue_totals",
      s"""{"name": "revenue_totals", "type": "sql-exec",
         |  "source": {"command": ${Workloads.quote("INSERT INTO bench_revenue " + tables(totalsSql, "bench_lineitem", "bench_orders"))}},
         |  "target": {"connection": "spark"}}""".stripMargin,
      s.lineitem + s.orders),
    Item("export_revenue",
      """{"name": "export_revenue", "type": "db-csv",
        |  "source": {"connection": "spark", "command": "SELECT * FROM bench_revenue"},
        |  "target": {"file": "revenue.csv", "truncate": true}}""".stripMargin,
      0L), // its source is the previous items' output, not an input
    Item("customer_to_derby",
      """{"name": "customer_to_derby", "type": "csv-db", "source": {"file": "customer.csv"},
        |  "target": {"connection": "derby", "table": "customer", "truncate": true}}""".stripMargin,
      s.customer),
    Item("customer_from_derby",
      """{"name": "customer_from_derby", "type": "db-csv",
        |  "source": {"connection": "derby", "command": "SELECT * FROM customer"},
        |  "target": {"file": "customer.csv", "truncate": true}}""".stripMargin,
      s.customer))

  private def fp(item: String, df: DataFrame) =
    item -> Fingerprint.requireRows(item, Fingerprint.of(df))

  /** The loads re-read the CSV inputs with plain Spark casts; the
    * statements run through `spark.sql` over those reads.
    */
  def expected(spark: SparkSession, work: String): Map[String, Fingerprint] = {
    val lineitem = Workloads.readCsv(spark, s"$work/input/lineitem.csv")
      .withColumn("l_orderkey", col("l_orderkey").cast("long"))
      .withColumn("l_quantity", col("l_quantity").cast("double"))
      .withColumn("l_extendedprice", col("l_extendedprice").cast("double"))
    val orders = Workloads.readCsv(spark, s"$work/input/orders.csv")
      .withColumn("o_orderkey", col("o_orderkey").cast("long"))
      .withColumn("o_custkey", col("o_custkey").cast("long"))
      .withColumn("o_totalprice", col("o_totalprice").cast("double"))
    lineitem.createOrReplaceTempView("expected_lineitem")
    orders.createOrReplaceTempView("expected_orders")
    val revenue = spark.sql(tables(revenueSql, "expected_lineitem", "expected_orders"))
    val totals = spark.sql(tables(totalsSql, "expected_lineitem", "expected_orders"))
      .toDF(revenue.columns.toSeq: _*)
    val customer = Workloads.readCsv(spark, s"$work/input/customer.csv")
    Map(fp("load_lineitem", lineitem), fp("load_orders", orders),
      fp("revenue", revenue), fp("revenue_totals", totals),
      fp("export_revenue", revenue.unionByName(totals)),
      fp("customer_to_derby", customer), fp("customer_from_derby", customer))
  }

  def actual(spark: SparkSession, work: String,
             expected: Map[String, Fingerprint]): Map[String, Fingerprint] = {
    val revenue = spark.table("bench_revenue")
    val derby = spark.read.format("jdbc")
      .option("url", s"jdbc:derby:$work/db/derby").option("dbtable", "customer").load()
    Map(
      "load_lineitem" -> Fingerprint.of(spark.table("bench_lineitem")),
      "load_orders" -> Fingerprint.of(spark.table("bench_orders")),
      "revenue" -> Fingerprint.of(revenue.where(col("returnflag") =!= "ALL")),
      "revenue_totals" -> Fingerprint.of(revenue.where(col("returnflag") === "ALL")),
      "export_revenue" -> Fingerprint.of(Workloads.readCsv(spark, s"$work/output/revenue.csv")),
      "customer_to_derby" -> Fingerprint.of(derby),
      "customer_from_derby" -> Fingerprint.of(Workloads.readCsv(spark, s"$work/output/customer.csv")))
  }
}

/** The LLM-curation task type through the same runner: `curate` from a
  * parquet corpus to BPE token ids in parquet (the q115 path). The q93
  * path (`curate` without a tokenizer) is timed in the traced run only,
  * as `ops.curate_s`, to keep a run short.
  */
object CurateTokens extends Workload {
  val name = "curate_tokens"
  val warmups = 1

  private val budgets: Map[String, Long] = (0 until 20).map(i => s"src$i" -> 120L * (i + 1)).toMap
  private val budgetsJson =
    budgets.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")

  def items(s: Inputs.Sizes): Seq[Item] = Seq(
    Item("curate_token_ids",
      s"""{"name": "curate_token_ids", "type": "curate", "source": {"file": "docs.parquet"},
         |  "curate": {"budgets": $budgetsJson, "tokenizer": "bpe"},
         |  "target": {"file": "token_ids.parquet", "truncate": true}}""".stripMargin,
      s.docs.toLong * s.docReplicas))

  def config: Curation.Config = Curation.Config(budgets = budgets)

  def docs(spark: SparkSession, work: String): DataFrame =
    spark.read.parquet(s"$work/input/docs.parquet")

  def curateTokens(spark: SparkSession, docs: DataFrame): DataFrame =
    Curation.curateTokens(spark, docs, "doc_id", "text", "source", None, None, config,
      TokenCounters.encoderForName("bpe"))

  def curate(spark: SparkSession, docs: DataFrame): DataFrame =
    Curation.curate(spark, docs, "doc_id", "text", "source", None, None, config)

  /** `Curation.curateTokens` called directly. */
  def expected(spark: SparkSession, work: String): Map[String, Fingerprint] = Map(
    "curate_token_ids" -> Fingerprint.requireRows("curate_token_ids",
      Fingerprint.of(curateTokens(spark, docs(spark, work)))))

  def actual(spark: SparkSession, work: String,
             expected: Map[String, Fingerprint]): Map[String, Fingerprint] = Map(
    "curate_token_ids" -> Fingerprint.of(spark.read.parquet(s"$work/output/token_ids.parquet")))
}
