package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftbench.Tracer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}

/** One operation: a catalog query or an operator call that writes its
  * output, or a micro-batch. Steps with `counted = false` (starting and
  * stopping streaming queries) belong to the pass time but are not
  * operations. */
final case class Op(name: String, layer: String, run: () => Unit, counted: Boolean = true)

trait Workload {
  /** Reads the generated inputs and registers them on the session. */
  def register(spark: SparkSession, data: String): Unit
  /** Untimed preparation after set-up that belongs to neither set-up nor
    * any operation (the streaming feed's rows and model). */
  def prepare(spark: SparkSession, data: String): Unit = ()
  /** The operations of one pass, fresh for every pass; batch operations
    * write their outputs under `out`. */
  def pass(spark: SparkSession, data: String, work: String, out: String, passNo: Int): Seq[Op]
  /** Writes what the checks need beyond the operations' own outputs (the
    * oracle SQL, the search index, the stream sinks) under `out`, after
    * the timed passes. */
  def dump(spark: SparkSession, out: String): Unit = ()
  /** Per-layer numbers only a traced run of this workload measures. */
  def traceExtras(spark: SparkSession, data: String, tracer: Tracer): Map[String, Any] = Map.empty
  /** Generated tables the `sources` scan probe reads. */
  def scanTables: Seq[String]
  /** (documents table, vectors table) for the expression probes. */
  def probeInputs: (String, String)
}

object Main {
  /** Full materialization without a write: checksum every column. */
  def checksum(df: DataFrame): Long = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val r = df.select(h.as("h")).selectExpr("bit_xor(h)").collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  def write(df: DataFrame, path: String): Unit = df.write.mode("overwrite").parquet(path)

  def session(cores: Int, work: String): SparkSession = {
    val spark = graft.GraftSession.builder(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.install(spark)
    spark
  }

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workloadName = a("workload")
    val data = a("data")
    val out = a("out")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val procStartMs = ProcessHandle.current().info().startInstant().get().toEpochMilli
    val workload: Workload = workloadName match {
      case "timing_catalog" => TimingCatalog
      case "corpus_batch" => CorpusBatch
      case "stream_ingest" => StreamIngest
    }
    Files.createDirectories(Paths.get(out))

    // set-up: from process start until graft is installed and the inputs
    // are registered, so JVM and Spark start-up count too
    val spark = session(cores, work)
    workload.register(spark, data)
    val setupSecs = (System.currentTimeMillis() - procStartMs) / 1e3

    workload.prepare(spark, data)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    def spanned[T](layer: String, name: String)(body: => T): T =
      tracer.fold(body)(_.span(layer, name)(body))

    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passSecs = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    // outputs of the first and the latest pass are kept, so the checks can
    // also tell whether an output changed between passes
    def passDir(p: Int) = s"$out/outputs/pass-$p"
    def runPass(p: Int): Unit = spanned("pass", s"pass-$p") {
      if (p >= 2) org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(passDir(p - 1)))
      val t = System.nanoTime()
      workload.pass(spark, data, work, passDir(p), p).foreach { op =>
        val t0 = System.nanoTime()
        val ok =
          try {
            spanned(op.layer, op.name)(op.run())
            true
          } catch {
            case e: Throwable =>
              System.err.println(s"[perfbench] $workloadName ${op.name} failed: ${e.toString.take(400)}")
              false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        if (op.counted) {
          attempted += 1
          if (ok) samples += Map("op" -> op.name, "pass" -> p, "s" -> dt)
          else failures += op.name
        } else if (!ok) failures += op.name
      }
      passSecs += (System.nanoTime() - t) / 1e9
    }

    val measureStart = System.nanoTime()
    runPass(0)
    val firstDone = System.nanoTime()
    var p = 1
    // whole steady passes until `seconds` have passed (at least one)
    while ((System.nanoTime() - firstDone) / 1e9 < seconds) { runPass(p); p += 1 }
    val measured = (System.nanoTime() - measureStart) / 1e9
    val peakRss = peakRssMb

    val layerMetrics: Map[String, Any] = tracer.map { tr =>
      val m = TraceMetrics.collect(spark, tr, workload, data, cores, p - 1)
      m ++ workload.traceExtras(spark, data, tr)
    }.getOrElse(Map.empty)

    workload.dump(spark, s"$out/outputs/dump")

    val result = Map(
      "workload" -> workloadName,
      "setup_s" -> setupSecs,
      "pass_s" -> passSecs.toSeq,
      "measured_s" -> measured,
      "samples" -> samples.toSeq,
      "attempted" -> attempted,
      "failed_ops" -> failures.toSeq,
      "passes" -> p,
      "peak_rss_mb" -> peakRss,
      "cores" -> cores,
      "layers" -> layerMetrics,
      "spans" -> tracer.map(_.spanTree).getOrElse(Seq.empty))
    tracer.foreach(_.close())
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(out, "result.json"), mapper.writeValueAsString(result))
    spark.stop()
  }
}
