package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Zh
import graft.operators.{ZhEnrich, ZhModifier}
import graft.sources.Tables

/** `zh_enrich`: the paper's job, `ZhModifier.enrichAll` over a seeded
  * OSM-shaped parquet table, into the noop sink. */
final class ZhEnrichBench(c: Ctx) extends OneStep {
  val Rows = 200000
  val Table = "osm_features"
  private var pools: HanPools = _
  private var dataDir: String = _

  def inputRows: Long = Rows
  override def prime(): Unit = Session.primeZh()
  private def row(id: Long) = OsmGen.row(pools, OsmGen.EnrichMix, c.seed, id)
  private def input(spark: SparkSession): DataFrame = Tables(spark, dataDir, Table)
  private def enriched(df: DataFrame): DataFrame =
    ZhModifier.enrichAll(Map(Table -> df))._1(Table)

  def setup(spark: SparkSession, rep: Int): Unit = {
    pools = HanPools.fromIcuRules()
    val dir = c.work.resolve(s"zh_$rep").toString
    ZhEnrichBench.write(spark, pools, OsmGen.EnrichMix, c.seed, Rows, 2 * c.cores,
      s"$dir/$Table.parquet")
    if (dataDir != null) org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dataDir))
    dataDir = dir
  }

  def run(spark: SparkSession): Unit = Session.noop(enriched(input(spark)))

  def layers(spark: SparkSession, r: Report, warmS: Double, tracedS: Double): Unit = {
    // Each stage is the previous one plus one layer, so a layer's self
    // time is its stage's time minus the stage before it, and the four
    // self-times sum to the full stage, which is one iteration.
    val stages: Seq[(String, () => Unit)] = Seq(
      "scan" -> (() => Session.noop(input(spark))),
      "structure" -> (() => Session.noop(ZhEnrich.zhEnrichWith(input(spark), "id", identity, identity))),
      "derive" -> (() => Session.noop(ZhEnrich.zhEnrich(input(spark), "id"))),
      "full" -> (() => run(spark)))
    val times = (0 until 5).flatMap(_ => stages.map { case (n, f) => n -> Stats.time(f()) })
      .groupBy(_._1).map { case (n, ts) => n -> Stats.median(ts.map(_._2)) }
    val self = Seq(
      "sources.scan_s" -> times("scan"),
      "operators.derive_structure_s" -> (times("structure") - times("scan")),
      "functions.convert_s" -> (times("derive") - times("structure")),
      "operators.apply_s" -> (times("full") - times("derive")))
    self.foreach { case (n, v) => r.metric(n, v, "s") }
    r.info("zh_stage_medians_s") = stages.map(s => s"${s._1}=${times(s._1)}").mkString(",")

    // What the accounting can get wrong: a stage that does not contain
    // the one before it (a negative self-time beyond noise), and a full
    // stage that is not the timed iteration (self-times that do not add
    // up to warm_s within the tracing overhead and noise).
    stages.map(_._1).sliding(2).foreach { case Seq(prev, cur) =>
      val slack = math.max(0.05, 0.1 * times(prev))
      r.check(s"stage $cur contains stage $prev", times(cur) >= times(prev) - slack,
        s"$cur=${times(cur)} $prev=${times(prev)} slack=$slack")
    }
    val sum = self.map(_._2).sum
    val allowed = math.abs(tracedS - warmS) + Main.NoiseShare * warmS
    r.check("layer self-times account for warm_s", math.abs(sum - warmS) <= allowed,
      s"layers=$sum warm_s=$warmS traced=$tracedS allowed=$allowed")

    // Kernel: single-thread direct calls on a fixed sample of names.
    val names = Iterator.from(0).map(i => OsmGen.row(pools, OsmGen.EnrichMix, 0L, i.toLong))
      .flatMap(_.zhSource).take(2000).toArray
    def pass(): Unit = names.foreach { s => Zh.toSimplified(s); Zh.toTraditional(s) }
    pass()
    var calls = 0L
    val t0 = System.nanoTime()
    while (Stats.seconds(t0) < 0.5) { pass(); calls += 2L * names.length }
    r.metric("functions.convert_ns_per_name", (System.nanoTime() - t0).toDouble / calls, "ns")

    // Share of the names the pipeline converts that contain Han and so
    // reach ICU (the rest short-circuit in Zh.hasHan). A property of the
    // generated input, not of the program: it documents that the kernel
    // runs, and no program change can move it.
    val (p, seed) = (pools, c.seed)
    val (converted, han) = spark.sparkContext.range(0L, Rows, 1L, c.cores).map { id =>
      val o = OsmGen.row(p, OsmGen.EnrichMix, seed, id)
      val n = (if (o.needsHans) 1L else 0L) + (if (o.needsHant) 1L else 0L)
      (n, if (o.zhSource.exists(Zh.hasHan)) n else 0L)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    r.metric("functions.icu_call_ratio", han.toDouble / converted, "ratio")
  }

  def verify(spark: SparkSession, r: Report): Unit = {
    // One pass over the full outer join of output and input: row
    // accounting, the generator's per-row derivation label against what
    // changed, and a fixed sample's derived names.
    val sample = Iterator.from(0).map(i => row((i.toLong * 7919L) % Rows))
      .filter(_.derives).take(200).toSeq
    val (p, seed) = (pools, c.seed)
    val expectDerive = udf((id: Long) => OsmGen.row(p, OsmGen.EnrichMix, seed, id).derives)
    val in = input(spark)
    val out = enriched(in)
    val a = out.select(col("id").as("oid"), to_json(col("tags")).as("t_out"),
        element_at(col("tags"), OsmGen.HansKey).as("hans"),
        element_at(col("tags"), OsmGen.HantKey).as("hant"))
      .join(in.select(col("id").as("iid"), to_json(col("tags")).as("t_in")),
        col("oid") === col("iid"), "full_outer")
      .select(coalesce(col("oid"), col("iid")).as("id"),
        (col("oid").isNull || col("iid").isNull).as("unmatched"),
        (col("t_out") =!= col("t_in")).as("changed"), col("hans"), col("hant"))
      .withColumn("expect", expectDerive(col("id")))
      .agg(count(lit(1)), sum(col("unmatched").cast("long")), sum(col("changed").cast("long")),
        sum(col("expect").cast("long")),
        sum((col("changed") =!= col("expect")).cast("long")),
        collect_list(when(col("id").isin(sample.map(_.id): _*),
          struct(col("id"), col("hans"), col("hant")))))
      .head()
    r.check("output rows = input rows", a.getLong(0) == Rows && a.getLong(1) == 0,
      s"rows=${a.getLong(0)} unmatched=${a.getLong(1)} in=$Rows")
    r.check("derived rows = generator's expectation", a.getLong(2) == a.getLong(3),
      s"changed=${a.getLong(2)} expected=${a.getLong(3)}")
    r.check("only rows labelled to derive changed their tags", a.getLong(4) == 0,
      s"${a.getLong(4)} rows disagree with their label")
    r.info("zh_expected_derived") = a.getLong(3).toString

    // The sample, recomputed in plain Scala through Zh's string API.
    val got = a.getSeq[Row](5).map(x => x.getLong(0) -> (x.getString(1), x.getString(2))).toMap
    val bad = sample.filter { o =>
      !got.get(o.id).contains((o.hansOr(Zh.toSimplified).orNull, o.hantOr(Zh.toTraditional).orNull))
    }
    r.check("sampled hans/hant match Zh.toSimplified/toTraditional", bad.isEmpty,
      bad.take(3).map(o => s"id=${o.id} got=${got.get(o.id)}").mkString("; "))
  }
}

object ZhEnrichBench {
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("tags", MapType(StringType, StringType, valueContainsNull = true), nullable = true),
    StructField("geometry", StringType, nullable = true)))

  /** Writes `rows` generated rows as `files` parquet files. */
  def write(spark: SparkSession, pools: HanPools, mix: IndexedSeq[Int], seed: Long,
            rows: Long, files: Int, path: String): Unit = {
    val rdd = spark.sparkContext.range(0L, rows, 1L, files).mapPartitions { ids =>
      ids.map { id =>
        val o = OsmGen.row(pools, mix, seed, id)
        Row(o.id, o.name, o.tags, o.geometry)
      }
    }
    spark.createDataFrame(rdd, Schema).write.mode("overwrite").parquet(path)
  }
}
