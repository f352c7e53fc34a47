package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generation, in a plain JVM (no Spark session).
  *
  * The tables follow the shape of the TPC-H-like fixtures the program is
  * tested on (lineitem / orders / customer, plus a `documents` corpus of
  * short texts over a small vocabulary), exported the way the task
  * surface reads them: all-string `;` CSV with a header. The same seed
  * always gives the same bytes; `run.py` records their SHA-256 in the
  * artifact.
  */
object Inputs {

  /** Rows generated per table, per workload. */
  final case class Sizes(lineitem: Int, orders: Int, customer: Int, docs: Int,
                         docReplicas: Int)

  val sizes: Map[String, Sizes] = Map(
    "csv_transform" -> Sizes(lineitem = 80000, orders = 0, customer = 0, docs = 0, docReplicas = 0),
    "sql_roundtrip" -> Sizes(lineitem = 60000, orders = 15000, customer = 3000, docs = 0, docReplicas = 0),
    "curate_tokens" -> Sizes(lineitem = 0, orders = 0, customer = 0, docs = 800, docReplicas = 2))

  /** Doc-id stride between replicas of the base corpus. */
  val ReplicaStride = 10000000L

  private val words = Vector(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
    "query", "a", "scan", "batch")

  private val flags = Vector("A", "N", "R")
  private val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val langs = Vector("en", "zh", "es", "fr", "de")

  def generate(workload: String, seed: Long, dir: Path): Unit = {
    val s = sizes(workload)
    Files.createDirectories(dir)
    // one stream per table, so a table's bytes do not depend on which
    // other tables the workload needs
    def rnd(table: Int) = new SplittableRandom(seed * 1000003L + table)
    // four lines per order, as in TPC-H
    if (s.lineitem > 0) lineitem(rnd(1), s.lineitem, math.max(s.lineitem / 4, 1), dir.resolve("lineitem.csv"))
    if (s.orders > 0) orders(rnd(2), s.orders, math.max(s.customer, 1), dir.resolve("orders.csv"))
    if (s.customer > 0) {
      customer(rnd(3), s.customer, dir.resolve("customer.csv"))
      derbyTemplate(dir.resolve("derby"))
    }
    if (s.docs > 0) documents(rnd(4), seed, s.docs, s.docReplicas, dir.resolve("docs.parquet"))
  }

  private def writeLines(path: Path)(body: (String => Unit) => Unit): Unit = {
    val out = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(path), StandardCharsets.UTF_8), 1 << 16)
    try body { line => out.write(line); out.write('\n') }
    finally out.close()
  }

  private def money(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"

  private def date(r: SplittableRandom): String =
    java.time.LocalDate.of(1995, 1, 1).plusDays(r.nextInt(2500).toLong).toString

  /** A short comment: some empty (the empty_as_null case), some carrying
    * a control character inside or at an edge (the sanitize_string and
    * `strip` cases).
    */
  private def comment(r: SplittableRandom): String = {
    val k = r.nextInt(100)
    if (k < 5) ""
    else {
      val ws = Seq.fill(2 + r.nextInt(5))(words(r.nextInt(words.size)))
      if (k < 8) ws.mkString(" ", "\u0007", "")
      else if (k < 11) ws.mkString("", " ", "\t")
      else if (k < 14) ws.mkString("\u0001", " ", "")
      else ws.mkString(" ")
    }
  }

  private def lineitem(r: SplittableRandom, n: Int, nOrders: Int, path: Path): Unit =
    writeLines(path) { emit =>
      emit("l_orderkey;l_partkey;l_suppkey;l_linenumber;l_quantity;l_extendedprice;" +
        "l_discount;l_tax;l_returnflag;l_linestatus;l_shipdate;l_comment")
      var i = 0
      while (i < n) {
        emit(Seq(
          r.nextInt(nOrders).toString,
          r.nextInt(20000).toString,
          r.nextInt(1000).toString,
          (1 + r.nextInt(7)).toString,
          (1 + r.nextInt(50)).toString,
          money(90000L + r.nextInt(10000000)),
          money(r.nextInt(11).toLong),
          money(r.nextInt(9).toLong),
          flags(r.nextInt(3)),
          if (r.nextBoolean()) "O" else "F",
          date(r),
          comment(r)).mkString(";"))
        i += 1
      }
    }

  private def orders(r: SplittableRandom, n: Int, nCust: Int, path: Path): Unit =
    writeLines(path) { emit =>
      emit("o_orderkey;o_custkey;o_orderstatus;o_totalprice;o_orderdate;o_orderpriority")
      var i = 0
      while (i < n) {
        emit(Seq(i.toString, r.nextInt(nCust).toString, Vector("O", "F", "P")(r.nextInt(3)),
          money(100000L + r.nextInt(50000000)), date(r), priorities(r.nextInt(5))).mkString(";"))
        i += 1
      }
    }

  private def customer(r: SplittableRandom, n: Int, path: Path): Unit =
    writeLines(path) { emit =>
      emit("c_custkey;c_name;c_nationkey;c_acctbal;c_mktsegment;c_comment")
      var i = 0
      while (i < n) {
        emit(Seq(i.toString, f"Customer#$i%09d", r.nextInt(25).toString,
          money(r.nextInt(1100000).toLong), segments(r.nextInt(5)),
          Seq.fill(3 + r.nextInt(6))(words(r.nextInt(words.size))).mkString(" ")).mkString(";"))
        i += 1
      }
    }

  /** The Derby database the JDBC items write into: the target table
    * exists up front, so `truncate` keeps its DDL (the petl `todb`
    * contract) instead of creating it.
    */
  private def derbyTemplate(dir: Path): Unit = {
    val url = s"jdbc:derby:${dir.toAbsolutePath};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE customer (\"c_custkey\" VARCHAR(16), \"c_name\" VARCHAR(32), " +
        "\"c_nationkey\" VARCHAR(8), \"c_acctbal\" VARCHAR(16), \"c_mktsegment\" VARCHAR(16), " +
        "\"c_comment\" VARCHAR(128))")
    } finally conn.close()
    try java.sql.DriverManager.getConnection(s"jdbc:derby:${dir.toAbsolutePath};shutdown=true")
    catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () } // clean shutdown
  }

  /** The base corpus (`n` docs over 20 sources, a few exact duplicates
    * and shared spans so dedup and excision have work), replicated
    * `replicas` times. Each replica carries a salt token derived from the
    * seed, so replicas are distinct documents, not exact duplicates.
    */
  private def documents(r: SplittableRandom, seed: Long, n: Int, replicas: Int, path: Path): Unit = {
    val spans = Vector.fill(40)(Seq.fill(12)(words(r.nextInt(words.size))).mkString(" "))
    val base = Array.tabulate(n) { i =>
      val len = 8 + r.nextInt(88)
      val ws = Seq.fill(len)(words(r.nextInt(words.size))).mkString(" ")
      val text = if (i % 7 == 3) s"$ws ${spans(r.nextInt(spans.size))}" else ws
      (i.toLong, text, s"src${i % 20}", langs(r.nextInt(langs.size)))
    }
    var i = 600
    while (i < n) { base(i) = base(i).copy(_2 = base(i - 599)._2); i += 600 }

    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message documents { required int64 doc_id; required binary text (STRING); " +
        "required binary source (STRING); required binary lang (STRING); }")
    val conf = new org.apache.hadoop.conf.Configuration()
    val out = new org.apache.hadoop.fs.Path(path.toAbsolutePath.toUri)
    val writer = ExampleParquetWriter.builder(out).withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try for (rep <- 0 until replicas; (id, text, source, lang) <- base) {
      val salt = java.lang.Long.toHexString(
        new SplittableRandom(seed * 31 + rep).nextLong() & 0xffffffL)
      writer.write(groups.newGroup()
        .append("doc_id", id + rep * ReplicaStride)
        .append("text", s"r$salt $text")
        .append("source", source)
        .append("lang", lang))
    } finally writer.close()
    // the Hadoop local filesystem leaves a checksum file beside the data
    Files.deleteIfExists(path.resolveSibling(s".${path.getFileName}.crc"))
  }

  /** Copy a generated input tree into a run's work directory. */
  def stage(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val target = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else {
        Files.createDirectories(target.getParent)
        Files.copy(p, target)
      }
    } finally walk.close()
  }
}
