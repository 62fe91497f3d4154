package graft.perfbench

/** The harness's own checks, run by `perfbench/tests/test_harness.py`:
  * the digest helper, the red path of the ingest check (one dropped row
  * and one duplicated row must each fail it), and the traced counters
  * (a pass's plan nodes must equal the sum over its lanes). Exits non-zero
  * when a check does not hold. */
object SelfTest {
  private var failed = 0

  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failed += 1
  }

  /** Lanes run back to back with the tracer attached, read after each lane
    * as the query workloads read them: each lane's query reached the
    * listener, its plan nodes are its own optimized plan's, and so the
    * pass's plan nodes equal the sum over its lanes. */
  private def tracedCounters(): Unit = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions.col
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      // a slow listener ahead of the tracer's on the shared queue delays
      // every delivery, so a read that does not drain the bus sees nothing
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = Thread.sleep(50)
      })
      val t = new Tracer(spark)
      t.reset()
      t.attach()
      val r = spark.range(0, 20000, 1, 4)
      val lanes = Seq(
        r.groupBy((col("id") % 7).as("k")).count(),
        r.join(spark.range(0, 500).withColumnRenamed("id", "j"), col("id") === col("j")),
        r.filter(col("id") % 3 === 0).select((col("id") * 2).as("x")).distinct())
      // (nodes counted, queries counted, the lane's own plan nodes)
      val seen = lanes.map { df =>
        df.collect()
        val p = t.plan
        val got = (p.nodes.get, p.queries.get, PlanListener.nodes(df.queryExecution))
        p.reset()
        got
      }
      expect("traced pass: every lane's query reached the listener", seen.forall(_._2 == 1))
      expect("traced pass: plan nodes equal the sum over its lanes",
        seen.forall(l => l._1 == l._3) && seen.map(_._1).sum == seen.map(_._3).sum)
      expect("traced pass: tasks and stages counted", t.exec.tasks.get > 0 && t.exec.stages.get > 0)
      t.detach()
      t.reset()
      r.count()
      expect("detached: nothing counted", t.plan.queries.get == 0 && t.exec.tasks.get == 0)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val rows: Seq[Seq[Any]] = (0 until 50).map(i => Seq(i * 0.5, i, s"key-$i", null, i.toLong))
    val base = Digest.of(rows)

    expect("digest ignores row order", Digest.of(rows.reverse) == base)
    expect("digest counts rows", base.startsWith("50:"))
    expect("digest sees a dropped row", Digest.of(rows.tail) != base)
    expect("digest sees a duplicated row", Digest.of(rows :+ rows.head) != base)
    expect("digest sees a changed cell",
      Digest.of(rows.updated(3, Seq(1.5, 3, "key-3", null, 4L))) != base)
    expect("digest sees a swap of two cells in a row",
      Digest.of(rows.updated(7, Seq(3.5, 7, null, "key-7", 7L))) != base)
    expect("digest rounds doubles to 4 decimals",
      Digest.cell(0.1 + 0.2) == "0.3000" && Digest.cell(-1e-9) == "0.0000")
    expect("digest renders NULL and NaN alike",
      Digest.cell(null) == "NULL" && Digest.cell(Double.NaN) == "NULL")
    expect("digest treats boxed and unboxed numbers alike",
      Digest.of(Seq(Seq(java.lang.Integer.valueOf(3), java.lang.Double.valueOf(2.0)))) ==
        Digest.of(Seq(Seq[Any](3, 2.0))))

    expect("ingest check passes on the same rows in another order",
      IngestCheck.verify(rows, rows.reverse).isEmpty)
    expect("ingest check fails on one dropped row",
      IngestCheck.verify(rows, rows.init).nonEmpty)
    expect("ingest check fails on one duplicated row",
      IngestCheck.verify(rows, rows :+ rows(10)).nonEmpty)
    expect("ingest check fails on a replaced row with the same count",
      IngestCheck.verify(rows, rows.init :+ rows.head).nonEmpty)

    tracedCounters()

    if (failed > 0) sys.exit(1)
  }
}
