package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** `catalog_heavy`: catalog rows of the engine that the zh workloads never
  * call — Relational (`q01`), streaming over manifested
  * Warehouse tables (`st25`) and the partitioned Warehouse lifecycle
  * (`v26`) — through `SparkEntry.queries`, on seeded single-file,
  * single-row-group tables. One iteration is one pass over the three rows
  * in a seed-permuted order. As in `graft.Bench`, what the engine caches
  * per process and input directory (the BM25 base index of st25, the
  * Warehouse root v26 builds and rolls back) is built in the cold pass
  * and reused by the warm ones. */
final class CatalogBench(c: Ctx) extends Workload {
  val LineitemRows = 60000
  val DocumentRows = 500
  val Queries: IndexedSeq[(String, String)] = IndexedSeq(
    "q01" -> "q01_pricing_summary", "st25" -> "st25_stream_bm25_ingest",
    "v26" -> "v26_partitioned_restore_read")
  val Streaming = Set("st25")

  private var dataDir: Path = _
  private var pass = 0
  /** The first successful result of each row, for the checks. */
  private val first = mutable.LinkedHashMap[String, (Array[Row], String)]()
  private val mismatches = mutable.ArrayBuffer[String]()
  private val traced = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Window]]()

  /** Rows of the tables the three rows read, once each. */
  def inputRows: Long = 2L * LineitemRows + 2L * DocumentRows
  // A pass takes seconds: the first pass is the cold one, the next ones
  // are warm.
  override def warmupIterations: Int = 0
  override def minWarm: Int = 2

  def setup(spark: SparkSession, rep: Int): Unit = {
    val dir = c.dir(s"catalog_$rep")
    CatalogGen.lineitem(spark, c.seed, LineitemRows, dir.resolve("lineitem.parquet"))
    CatalogGen.documents(spark, c.seed, DocumentRows, dir.resolve("documents.parquet"))
    if (dataDir != null) FileUtils.deleteQuietly(dataDir.toFile)
    dataDir = dir
  }

  def iterate(spark: SparkSession, r: Report, label: String, tracer: Option[Tracer]): Option[Double] = {
    pass += 1
    val rng = new Rng(c.seed * 1000003L + pass)
    val order = Queries.indices.foldLeft(Queries) { (qs, i) =>
      val j = i + rng.nextInt(qs.size - i)
      qs.updated(i, qs(j)).updated(j, qs(i))
    }
    val times = order.map { case (short, name) =>
      var rows: Array[Row] = null
      def body(): Unit = rows = graft.SparkEntry.queries(name)(spark, dataDir.toString).collect()
      val t = tracer match {
        case Some(tr) =>
          var t: Option[Double] = None
          val w = tr.window { t = r.attempt(s"$label/$short")(body()) }
          if (t.isDefined) traced.getOrElseUpdate(short, mutable.ArrayBuffer()) += w
          t
        case None => r.attempt(s"$label/$short")(body())
      }
      if (t.isDefined) record(short, rows, label)
      t
    }
    if (times.forall(_.isDefined)) Some(times.flatten.sum) else None
  }

  private def record(short: String, rows: Array[Row], label: String): Unit = {
    val h = CatalogGen.hash(rows)
    first.get(short) match {
      case None => first(short) = (rows, h)
      case Some((_, h0)) if h0 != h => mismatches += s"$short in $label: $h, first pass $h0"
      case _ =>
    }
  }

  def layers(spark: SparkSession, r: Report, warmS: Double, tracedS: Double): Unit = {
    Queries.foreach { case (q, _) =>
      val ws = traced.getOrElse(q, mutable.ArrayBuffer())
      ws.zipWithIndex.foreach { case (w, i) => Tracer.check(s"$q traced#$i", w, r) }
      if (ws.nonEmpty) {
        val w = Tracer.median(ws.toSeq)
        r.metric(s"$q.wall_s", w.wallS, "s")
        r.metric(s"$q.jobs", w.jobs, "count")
        r.metric(s"$q.tasks", w.tasks, "count")
        r.metric(s"$q.busy_cores", w.busyCores, "cores")
        r.metric(s"$q.shuffle_write_mb", w.shuffleWriteMb, "MB")
        r.metric(s"$q.planning_s", w.planningS, "s")
        if (Streaming(q)) {
          r.metric(s"$q.batches", w.batches, "count")
          r.metric(s"$q.trigger_ms", w.triggerMsPerBatch, "ms")
          // st25 stages its input as two files read one per trigger
          r.check(s"$q ran at least two micro-batches", w.batches >= 2, s"batches=${w.batches}")
        }
      }
    }
    // The per-row windows split the traced pass: work outside them, or a
    // row's jobs still running after its window closed, shows as a gap.
    val rowSum = traced.values.map(ws => Stats.median(ws.map(_.wallS).toSeq)).sum
    r.check("per-row walls account for the traced pass",
      math.abs(rowSum - tracedS) <= Main.NoiseShare * tracedS, s"rows=$rowSum pass=$tracedS")
  }

  def verify(spark: SparkSession, r: Report): Unit = {
    r.check("every row returned a result", Queries.forall(q => first.contains(q._1)),
      s"no result from ${Queries.map(_._1).filterNot(first.contains).mkString(",")}")
    r.check("every pass returned the first pass's rows", mismatches.isEmpty, mismatches.take(3).mkString("; "))
    Queries.foreach { case (q, _) => first.get(q).foreach { case (rows, h) =>
      r.info(s"$q.rows") = rows.length.toString
      r.info(s"$q.hash") = h
    }}
    // The first results and the rows' oracle SQL, for run.py to replay in
    // DuckDB over the same tables.
    val out = c.dir("oracle")
    val sql = Queries.collect { case (q, name) if first.contains(q) =>
      val (rows, _) = first(q)
      spark.createDataFrame(rows.toSeq.asJava, rows.headOption.map(_.schema).getOrElse(new StructType()))
        .coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
      s""""$q":${Report.str(graft.SparkEntry.oracleSql(name))}"""
    }
    Files.writeString(out.resolve("manifest.json"),
      s"""{"tables":${Report.str(dataDir.toString)},"queries":{${sql.mkString(",")}}}""")
  }
}

/** Seeded, TPC-H-shaped `lineitem` and text `documents`, each written as
  * one parquet file with one row group. */
object CatalogGen {
  private val words = IndexedSeq("key", "agg", "row", "scan", "slow", "fast", "table", "value",
    "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "order", "data",
    "column", "join", "small", "big", "customer", "query", "stream", "group", "filter",
    "index", "shard", "node", "edge", "graph", "rank", "token", "score", "store", "cache",
    "plan", "task", "stage")
  private val langs = IndexedSeq("en", "en", "en", "zh", "es", "de", "fr")

  /** Writes `rows` into `target` as a single parquet file. */
  private def writeOne(spark: SparkSession, rows: Seq[Row], schema: StructType, target: Path): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-") && p.toString.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no parquet file in $tmp"))
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    FileUtils.deleteQuietly(tmp.toFile)
  }

  def lineitem(spark: SparkSession, seed: Long, n: Int, target: Path): Unit = {
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType)))
    val rows = (0L until n).map { id =>
      val r = Rng.forRow(seed ^ 0x5EEDL, id)
      val qty = 1 + r.nextInt(50)
      val part = 1 + r.nextInt(n / 30)
      Row(1 + id / 4, part.toLong, 1L + r.nextInt(n / 600), (1 + id % 4).toInt, qty.toDouble,
        (qty * (90000 + (part % 20000) * 10 + r.nextInt(100))) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, r.pick(IndexedSeq("A", "N", "R")),
        r.pick(IndexedSeq("O", "F")))
    }
    writeOne(spark, rows, schema, target)
  }

  def documents(spark: SparkSession, seed: Long, n: Int, target: Path): Unit = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    val rows = (0L until n).map { id =>
      val r = Rng.forRow(seed ^ 0xD0C5L, id)
      val text = Seq.fill(10 + r.nextInt(90)) {
        val w = r.pick(words)
        if (r.nextInt(3) == 0) w + r.nextInt(8) else w
      }.mkString(" ")
      Row(id, text, r.pick(langs), s"src${r.nextInt(20)}", text.length.toLong)
    }
    writeOne(spark, rows, schema, target)
  }

  /** Order-insensitive digest of a result: each row's values, doubles
    * rounded to nine significant digits, sorted and hashed. */
  def hash(rows: Array[Row]): String = {
    def v(x: Any): String = x match {
      case null => "null"
      case d: Double => f"$d%.9g"
      case f: Float => f"${f.toDouble}%.9g"
      case other => other.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toSeq.map(v).mkString("\u0001")).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}
