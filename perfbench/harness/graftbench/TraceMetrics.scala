package graftbench

import org.apache.spark.graftbench.Tracer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{DynspecFile, FitsFile, NpyFile, ParFile, ResidualFile, Tables}

/** The per-layer numbers every traced run reports: Spark and plan
  * figures per steady pass (from the listeners), and probes that time
  * one layer's public entry points on fixed inputs. */
object TraceMetrics {
  private def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.length / 2) }

  /** Median seconds of three timed runs of `body` after one warm run. */
  private def timed(body: => Unit): Double = {
    body
    median((1 to 3).map { _ => val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9 })
  }

  private def rate(tr: Tracer, layer: String, name: String, df: DataFrame, rows: Long): Double =
    tr.span(layer, name)(rows / timed(Main.checksum(df)))

  def collect(spark: SparkSession, tr: Tracer, w: Workload, data: String,
              cores: Int, steadyPasses: Int): Map[String, Any] = {
    tr.drain()
    val n = steadyPasses.max(1).toDouble
    val steadyRoots = tr.groups("pass", _ != "pass-0")
    val steady = tr.under(steadyRoots)
    val wall = tr.seconds(steadyRoots)
    val st = tr.stagesIn(steady)
    val plans = tr.plansIn(steady)
    val mb = 1048576.0
    val sparkM = Map(
      "spark.jobs" -> tr.jobsIn(steady).size / n,
      "spark.stages" -> st.size / n,
      "spark.tasks" -> st.map(_.tasks.toLong).sum / n,
      "spark.task_run_s" -> st.map(_.runMs).sum / 1e3 / n,
      "spark.task_cpu_s" -> st.map(_.cpuNs).sum / 1e9 / n,
      "spark.gc_s" -> st.map(_.gcMs).sum / 1e3 / n,
      "spark.shuffle_write_mb" -> st.map(_.shuffleWrite).sum / mb / n,
      "spark.shuffle_read_mb" -> st.map(_.shuffleRead).sum / mb / n,
      "spark.spill_mb" -> st.map(_.spill).sum / mb / n,
      "spark.core_busy" -> st.map(_.runMs).sum / 1e3 / (wall * cores),
      "spark.task_skew_max" -> (if (st.isEmpty) 1.0 else st.map(_.skew).max))
    val planM = Map(
      "plans.analysis_ms" -> plans.map(_.analysisMs).sum / n,
      "plans.optimizer_ms" -> plans.map(_.optimizerMs).sum / n,
      "plans.planning_ms" -> plans.map(_.planningMs).sum / n,
      "plans.codegen_ms" -> tr.codegenMs,
      "plans.exchanges" -> plans.map(_.exchanges).sum / n,
      "plans.topk_nodes" -> plans.map(_.topk).sum / n,
      "plans.asof_merge_nodes" -> plans.map(_.asof).sum / n)

    // sources: scan and checksum every input table
    val scanT0 = System.nanoTime()
    w.scanTables.foreach { t =>
      tr.span("sources", s"scan:$t") {
        val df = if (t == "events") Tables.events(spark, data) else spark.read.parquet(s"$data/$t.parquet")
        Main.checksum(df)
      }
    }
    val scanS = (System.nanoTime() - scanT0) / 1e9
    val scanGroups = tr.under(tr.groups("sources", _.startsWith("scan:")))
    val scanStages = tr.stagesIn(scanGroups)
    val parseS = tr.span("sources", "parse")(timed(Parsers.run()))

    // expressions and functions through their public entry points, on cached input
    val (docT, vecT) = w.probeInputs
    val docs = spark.read.parquet(s"$data/$docT.parquet").select("text").cache()
    val vecs = spark.read.parquet(s"$data/$vecT.parquet")
      .select(col("embedding").cast("array<double>").as("v")).cache()
    val nums = spark.range(200000).select(
      ((col("id") % 6283) * 0.001).as("m"), lit(0.3).as("e"),
      timestamp_seconds(lit(1704067200L) + col("id")).as("ts"),
      (col("id") % 16).as("k"), (col("id") * 0.01).as("x")).cache()
    val nDocs = docs.count(); val nVecs = vecs.count(); val nNums = nums.count()
    docs.createOrReplaceTempView("probe_docs")
    nums.createOrReplaceTempView("probe_nums")
    val cents = vecs.limit(16).collect().map(_.getSeq[Double](0).toArray)
    val exprM = Map(
      "expressions.minhash_rows_per_s" -> rate(tr, "expressions", "minhash",
        spark.sql("SELECT xxminhash_bands(text, 8, 2, 3) AS b FROM probe_docs"), nDocs),
      "expressions.text_rows_per_s" -> rate(tr, "expressions", "text", spark.sql(
        "SELECT normalize_text(text) AS n, word_shingles(text, 3) AS s, " +
          "simhash_bits(split(text, ' '), 32) AS h FROM probe_docs"), nDocs),
      "expressions.centroid_rows_per_s" -> rate(tr, "expressions", "centroid",
        vecs.select(graft.expressions.NearestCentroidsTopN.l2(col("v"), cents,
          cents.indices.toArray, 4).as("c")), nVecs),
      "expressions.kepler_rows_per_s" -> rate(tr, "expressions", "kepler",
        spark.sql("SELECT kepler_solve(m, e) AS E FROM probe_nums"), nNums),
      "functions.orbital_rows_per_s" -> rate(tr, "functions", "orbital",
        nums.select(graft.functions.Orbital.circularPhase(col("ts"), 0.1025, 60310.0).as("p")), nNums),
      "functions.dsum_rows_per_s" -> rate(tr, "functions", "dsum",
        nums.groupBy("k").agg(graft.functions.Num.dsum(col("x")).as("s")), nNums))
    Seq(docs, vecs, nums).foreach(_.unpersist())

    sparkM ++ planM ++ exprM ++ Map(
      "sources.scan_s" -> scanS,
      "sources.input_mb" -> tr.plansIn(scanGroups).map(_.scanBytes).sum / mb,
      "sources.scan_tasks" -> scanStages.map(_.tasks.toLong).sum,
      "sources.parse_s" -> parseS)
  }
}

/** Driver-side parse of fixed text payloads in each format the catalog
  * reads: par, residual, dynspec, npy and FITS header cards. */
object Parsers {
  private val rnd = new java.util.Random(7L)
  private val lines = 20000
  private val par = (0 until lines).map(i =>
    f"P$i%05d ${rnd.nextDouble() * 100}%.12f 1 ${rnd.nextDouble() * 1e-6}%.3e").mkString("\n")
  private val residual = (0 until lines).map(i =>
    f"${53000 + i * 0.01}%.6f ${rnd.nextGaussian() * 1e-6}%.6e ${rnd.nextDouble()}%.4f " +
      f"${1400 + rnd.nextInt(400)}%.1f ${rnd.nextDouble()}%.6f -f band").mkString("\n")
  private val dynspec = (0 until lines).map(i =>
    f"${i / 100} ${i % 100} ${i * 8.0}%.2f ${1300 + i % 100}%.3f ${rnd.nextDouble()}%.6f ${rnd.nextDouble() * 0.1}%.6f")
  private val npy = NpyFile.bytes(Array.fill(lines * 10)(rnd.nextDouble()))
  private val cards = (0 until lines).map { i =>
    val c = f"KEY${i % 100000}%05d= ${rnd.nextDouble() * 1e3}%20.8f / comment $i"
    c.padTo(80, ' ').take(80)
  }

  def run(): Unit = {
    require(ParFile.parse(par).length == lines)
    require(ResidualFile.parse(residual).length == lines)
    require(dynspec.flatMap(DynspecFile.parseLine).length == lines)
    require(NpyFile.doubles(npy).length == lines * 10)
    require(cards.flatMap(FitsFile.parseCard).length == lines)
  }
}
