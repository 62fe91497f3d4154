package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** One benchmark run in a fresh JVM: set up three times, run the workload
  * for the given seconds, check its outputs, and write the raw
  * measurements as one JSON object to `--out`. `perfbench/run.py` launches
  * this and turns the measurements into the reported metrics.
  *
  *   --workload ingest|lanes --seed N --seconds S --trace 0|1
  *   --cores N --fixture DIR --work DIR --out FILE [--dump DIR]
  *
  * `--dump` writes every lane's result as parquet (the one-off oracle
  * confirmation of the pinned digests). */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cores: Int, fixture: String, work: String, out: String,
                        dump: Option[String])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("cores").toInt, m("fixture"), m("work"), m("out"), m.get("dump"))
  }

  /** The measured session: local[cores], one shuffle partition per core,
    * RocksDB state; scratch space is the run's own (SPARK_LOCAL_DIRS and
    * java.io.tmpdir, set by the launcher). */
  def session(a: Args): SparkSession = {
    val s = graft.GraftSession.builder(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Median of `xs`; 0 when empty (a layer the run did not reach). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** What every workload gives the run: staging (timed as set-up) and the
    * measured body, which reports into `out`. */
  trait Workload {
    def stage(spark: SparkSession): Unit
    def run(spark: SparkSession, out: Result): Unit
  }

  /** Raw measurements plus the failed/attempted tally. */
  final class Result {
    val fields = mutable.LinkedHashMap.empty[String, JValue]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L

    def put(k: String, v: JValue): Unit = fields(k) = v
    def nums(k: String, vs: Seq[Double]): Unit = fields(k) = JArray(vs.map(JDouble(_)).toList)
    def layer(k: String, v: Double): Unit = layers(k) = v
    /** Count one operation; record it failed when `ok` is false. */
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) failures += what
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spans = new Spans(s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
    val out = new Result
    val w: Workload = a.workload match {
      case "ingest" => new Ingest(a, spans)
      case "lanes" => new Lanes(a, spans)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var spark: SparkSession = null
    spans.timed("workload", "harness") {
      // set up three times; the first also pays JVM start
      val setups = (1 to 3).map { k =>
        val t0 = if (k == 1) jvmStartMs else System.currentTimeMillis()
        spans.timed(s"setup.$k", "setup") {
          if (spark != null) spark.stop()
          spark = session(a)
          w.stage(spark)
        }
        (System.currentTimeMillis() - t0) / 1e3
      }
      out.nums("setup_s", setups)
      w.run(spark, out)
    }
    // memory, after the workload and outside every timed section
    out.put("rss_peak_mb", JDouble(JvmCounters.rssPeakMb()))
    out.put("heap_committed_mb", JDouble(JvmCounters.heapCommittedMb()))
    out.put("heap_live_mb", JDouble(JvmCounters.liveHeapMb()))
    if (a.trace) {
      val all = spans.all
      val root = all.find(_.name == "workload").get
      val top = all.filter(_.parent == root.id)
      out.layer("trace.coverage", top.map(_.durNs).sum.toDouble / root.durNs)
      out.put("spans", JArray(all.map(s => JObject(
        "id" -> JInt(s.id), "parent" -> JInt(s.parent), "run" -> JString(spans.runId),
        "name" -> JString(s.name), "layer" -> JString(s.layer),
        "start_ms" -> JDouble(s.startNs / 1e6), "end_ms" -> JDouble(s.endNs / 1e6))).toList))
      out.put("self_ms", JObject(spans.selfNsByLayer.toList.sorted.map { case (k, v) =>
        k -> JDouble(v / 1e6) }))
    }
    out.put("layers", JObject(out.layers.toList.map { case (k, v) => k -> JDouble(v) }))
    out.put("attempted", JInt(out.attempted))
    out.put("failures", JArray(out.failures.toList.map(JString(_))))
    spark.stop()
    Files.writeString(Paths.get(a.out), compact(render(JObject(out.fields.toList))))
  }
}
