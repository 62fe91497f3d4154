package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.{GraftSession, SparkEntry, Tables}
import graft.operators.{Classifier, Similarity, Tokenizer}

/** The lanes workload: a fixed lane list over the read-only fixture, run
  * as one cold pass in the fresh JVM, a warm-up pass, and then measured warm
  * passes until the run's seconds are up. The cold pass collects every
  * lane's result and digests it for the pinned-digest check; warm passes
  * materialize each lane through the noop sink, as `graft.Bench` does. */
final class Lanes(a: Main.Args, spans: Spans) extends Main.Workload {
  private val lanes = Lanes.All
  private val dir = a.fixture

  /** Nothing to stage: the fixture is read-only. Set-up reads each table's
    * footer (its schema); the first scan stays in the cold pass. */
  def stage(spark: SparkSession): Unit =
    Lanes.FixtureTables.foreach(n => Tables(spark, dir, n).schema)

  def run(spark: SparkSession, out: Main.Result): Unit = {
    // the seed only orders the lanes
    val order = new scala.util.Random(a.seed).shuffle(lanes)
    val fns = order.map(n => n -> SparkEntry.queries(n))
    val tracer = if (a.trace) Some(new Tracer(spark)) else None

    // traced run: the three shared artifacts are built first, as timed calls
    if (a.trace) {
      val built = Lanes.buildArtifacts(spark, dir, spans)
      out.layer("artifact.build_ms", built)
    }

    final case class Pass(wallS: Double, laneMs: Seq[Double], traced: Boolean,
                          planNs: Long, analyzeNs: Long, optimizeNs: Long, physicalNs: Long,
                          nodes: Long, shuffleW: Long, shuffleR: Long, spill: Long,
                          tasks: Long, stages: Long)

    val digests = scala.collection.mutable.LinkedHashMap.empty[String, String]

    /** One pass over the lanes. The cold pass collects each result and
      * digests it (the output check); warm passes write to the noop sink. */
    def pass(label: String, traced: Boolean, check: Boolean = false): Pass = {
      tracer.foreach { t => t.reset(); if (traced) t.attach() else t.detach() }
      // traced pass: the lanes' planning phases and plan nodes, summed
      var planSum, analyzeSum, optimizeSum, physicalSum, laneNodes = 0L
      val t0 = System.nanoTime()
      val times = spans.timed(s"pass.$label", "harness") {
        fns.map { case (name, fn) =>
          var buildNs = 0L
          val ok =
            try {
              spans.timed(name, "exec") {
                // building the DataFrame parses and analyzes the lane's plan
                val b0 = System.nanoTime()
                val df = fn(spark, dir)
                buildNs = System.nanoTime() - b0
                if (check) digests(name) = Digest.ofFrame(df)._2
                else df.write.format("noop").mode("overwrite").save()
              }
              true
            } catch {
              case e: Throwable =>
                System.err.println(s"[perfbench] $name failed: $e")
                false
            }
          val lane = spans.last
          out.check(ok, s"lane $name ($label)")
          if (traced) {
            // the lane's own planning events, all delivered, then cleared
            val p = tracer.get.plan
            out.check(p.queries.get >= 1, s"lane $name ($label): no query reached the listener")
            val planNs = buildNs + p.planNs
            planSum += planNs
            analyzeSum += buildNs + p.analyzeNs.get
            optimizeSum += p.optimizeNs.get
            physicalSum += p.physicalNs.get
            laneNodes += p.nodes.get
            p.reset()
            // planning runs before execution: charge it to the lane's start
            spans.add(lane.id, "plan", "plan", lane.startNs, lane.startNs + planNs)
          }
          GraftSession.releasePersisted(spark) // outside the timed section
          lane.durNs / 1e6
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      tracer match {
        case Some(t) if traced =>
          val e = t.exec
          Pass(wall, times, true, planSum, analyzeSum, optimizeSum, physicalSum,
            laneNodes, e.shuffleWrite.get, e.shuffleRead.get, e.spill.get, e.tasks.get, e.stages.get)
        case _ => Pass(wall, times, false, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
      }
    }
    // every pass starts from a settled JVM; the settling is not timed
    var settleS = spans.timed("settle", "jvm")(JvmCounters.settle())
    val jvm0 = JvmCounters.sample()
    val (cold, coldLoad) = graft.HostLoad.around(pass("cold", traced = a.trace, check = true))
    val jvm1 = JvmCounters.sample()
    // the first warm passes are still on the JIT's warm-up slope: run them,
    // check them, and leave them out of the warm figures
    (1 to Lanes.WarmupPasses).foreach { k =>
      settleS += spans.timed("settle", "jvm")(JvmCounters.settle())
      pass(s"warmup$k", traced = false)
    }
    val warm = ArrayBuffer.empty[Pass]
    val (_, warmLoad) = graft.HostLoad.around {
      // measured passes for the run's seconds; a traced run makes the
      // passes of TracedPattern
      val deadline = System.nanoTime() + a.seconds * 1000000000L
      val minWarm = if (a.trace) Lanes.TracedPattern.size else Lanes.MinWarmPasses
      while (warm.size < minWarm || System.nanoTime() < deadline) {
        settleS += spans.timed("settle", "jvm")(JvmCounters.settle())
        warm += pass(s"warm${warm.size + 1}",
          traced = a.trace && Lanes.TracedPattern(warm.size % Lanes.TracedPattern.size))
      }
    }
    out.put("settle_s", JDouble(settleS))
    tracer.foreach(_.detach())

    out.put("cold_pass_s", JDouble(cold.wallS))
    out.put("cold_lane_ms", JObject(order.zip(cold.laneMs).toList.map { case (n, ms) =>
      n -> JDouble(ms) }))
    out.nums("warm_pass_s", warm.map(_.wallS).toSeq)
    out.nums("op_ms", warm.flatMap(_.laneMs).toSeq)
    // each lane's fastest time over the measured passes
    out.nums("op_e2e_ms", order.indices.map(i => warm.map(_.laneMs(i)).min))

    out.put("lane_digests", JObject(lanes.sorted.toList.map(n =>
      n -> JString(digests.getOrElse(n, "error")))))
    a.dump.foreach { d =>
      fns.foreach { case (name, fn) =>
        fn(spark, dir).write.mode("overwrite").parquet(new File(d, name).toString)
      }
      val oracle = lanes.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> JString(_)))
      java.nio.file.Files.writeString(new File(d, "oracle_sql.json").toPath,
        compact(render(JObject(oracle.toList))))
    }

    if (a.trace) {
      import Main.{median => med}
      val tw = warm.filter(_.traced).toSeq
      val uw = warm.filterNot(_.traced).toSeq
      def m(f: Pass => Double): Double = med(tw.map(f))
      out.layer("plan.analyze_ms", m(_.analyzeNs / 1e6))
      out.layer("plan.optimize_ms", m(_.optimizeNs / 1e6))
      out.layer("plan.physical_ms", m(_.physicalNs / 1e6))
      out.layer("plan.nodes", m(_.nodes.toDouble))
      // lane wall time minus planning (the pass's drains and releases excluded)
      out.layer("exec.ms", m(p => p.laneMs.sum - p.planNs / 1e6))
      out.layer("shuffle.write_bytes", m(_.shuffleW.toDouble))
      out.layer("shuffle.read_bytes", m(_.shuffleR.toDouble))
      out.layer("spill.bytes", m(_.spill.toDouble))
      out.layer("tasks", m(_.tasks.toDouble))
      out.layer("stages", m(_.stages.toDouble))
      out.layer("plan.cold_ms", cold.planNs / 1e6)
      out.layer("codegen.compiles", (jvm1.compiles - jvm0.compiles).toDouble)
      out.layer("codegen.compile_ms", jvm1.compileMs - jvm0.compileMs)
      out.layer("jvm.jit_ms", coldLoad.jitSec * 1e3)
      out.layer("jvm.classes_loaded", coldLoad.classesLoaded.toDouble)
      out.layer("jvm.gc_ms", (coldLoad.gcSec + warmLoad.gcSec) * 1e3)
      out.layer("host.ext_cpu_pct", math.max(coldLoad.extCpuPct, warmLoad.extCpuPct))
      out.layer("trace.overhead_pct",
        if (uw.isEmpty) 0.0 else (tw.map(_.wallS).sum / uw.map(_.wallS).sum - 1) * 100)
      out.layer("artifact.bytes", Lanes.artifactBytes().toDouble)
    }
  }
}

object Lanes {
  /** Warm passes run after the cold pass and left out of the warm figures:
    * the first was still 10–35% above the later ones. */
  val WarmupPasses = 1
  /** Measured warm passes, at least: enough for a median. */
  val MinWarmPasses = 3
  /** Which measured warm passes of a traced run have the listeners
    * attached: with, without, without and with, so that what remains of
    * the JIT's warm-up slope cancels out of the tracing overhead. */
  val TracedPattern: Seq[Boolean] = Seq(true, false, false, true)

  val QueryMix: Seq[String] = Seq(
    "q08_agg_tpch_q1", "q54_tpch_q3", "q133_tpch_q5", "q124_tpch_q18", "q141_tpch_q9",
    "q104_tpch_q21", "q13_window_rank", "q10_rollup", "q57_correlated_subquery",
    "q68_sessionize", "s08_agg_tpch_q1", "s133_tpch_q5")

  val Curate: Seq[String] = Seq(
    "q28_dedup_md5", "q35_simhash", "q50_neardup_confirmed", "q166_ann_filtered_search",
    "q170_bpe_tokenize", "q174_nb_model_artifact")

  /** Relational lanes, then LLM-data lanes. */
  val All: Seq[String] = QueryMix ++ Curate

  /** The fixture tables the lanes read. */
  val FixtureTables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Build the ANN index, NB model and BPE tokenizer the LLM-data lanes
    * serve from, each as one timed call; returns the total build
    * milliseconds. */
  def buildArtifacts(spark: SparkSession, dir: String, spans: Spans): Double = {
    val t0 = System.nanoTime()
    spans.timed("artifact.ann_index", "artifacts") {
      val e = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), graft.functions.VectorOps.asDouble(col("embedding")).as("v"))
      Similarity.ensureIndex(spark, e, Similarity.indexPathFor(dir))
    }
    spans.timed("artifact.nb_model", "artifacts") {
      Classifier.ensureModel(spark, Tables(spark, dir, "documents"), Classifier.modelPathFor(dir))
    }
    spans.timed("artifact.bpe_tokenizer", "artifacts") {
      Tokenizer.ensureTokenizer(spark, Tables(spark, dir, "documents").select(col("text")),
        Tokenizer.tokenizerPathFor(dir))
    }
    (System.nanoTime() - t0) / 1e6
  }

  /** Bytes of the pid-keyed artifacts the lanes left under the JVM's tmpdir. */
  def artifactBytes(): Long =
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_")).map(org.apache.commons.io.FileUtils.sizeOf).sum
}
