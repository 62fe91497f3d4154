package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.sql.DriverManager
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.json4s._

import graft.pipeline.{ConfluentAvro, RecordGenerator, SchemaRegistry, TransactionalJdbcSink}
import graft.streaming.{StreamOps, StreamingPipeline}

/** The ingest workload: the reference consumer end to end, as a closed
  * loop. The backlog (Confluent-framed Avro in parquet files, alternating
  * schema v1 and v2, each file re-sending the previous file's last records
  * as producer retries) is staged up front; the source directory receives
  * the next file only after the previous micro-batch committed. Each batch
  * goes file source → `ConfluentAvro.decodeAuto` → `dedupWithinWatermark`
  * on the key (RocksDB state) → `TransactionalJdbcSink` on embedded Derby.
  *
  * After the timed stream, the checkpoint is rewound by the last
  * [[ReplayBatches]] batches and the query restarted from it, three times:
  * exactly those batches must replay, each as a ledger skip. The landed
  * table is then read back over JDBC and must hold exactly the distinct
  * generated records. */
final class Ingest(a: Main.Args, spans: Spans) extends Main.Workload {
  import Ingest._

  private val work = new File(a.work)
  private val staged = new File(work, "staged")
  private val source = new File(work, "source")
  private val checkpoint = new File(work, "checkpoint")
  private val url = s"jdbc:derby:${new File(work, "derby")};create=true"
  /** The backlog: one file per micro-batch the run can consume, with
    * batches as short as [[FastestBatchMs]]. A program faster than that
    * runs out of backlog before its seconds are up, and the stream ends
    * there. */
  private val files = math.max(MinBatches, math.ceil(a.seconds * 1000.0 / FastestBatchMs).toInt) + 1

  private lazy val v1Id = SchemaRegistry.register(Subject, V1)
  private lazy val v2Id = SchemaRegistry.register(Subject, V2)

  /** Every row of the backlog: `row` is its position, `file` the file it is
    * staged in, `id` the generated record it carries (a retry carries a
    * record of the previous file). One partition per file. */
  private def backlog(spark: SparkSession): DataFrame = {
    val retry = col("id") % RowsPerFile < Retries && col("id") >= RowsPerFile
    val ids = spark.range(0, files.toLong * RowsPerFile, 1, files)
      .select(col("id").as("row"), (col("id") / RowsPerFile).cast("long").as("file"),
        explode(when(retry, array(col("id"), col("id") - Retries))
          .otherwise(array(col("id")))).as("id"))
    ids.select(col("row"), col("file"), col("id"),
      concat(RecordGenerator.valueFor("string", a.seed, "key_field"), lit("-"),
        col("id").cast("string")).as("key_field"),
      (lit(RecordGenerator.BaseMillis) + col("id")).as("timestamp_field"),
      RecordGenerator.valueFor("string", a.seed, "string_field").as("string_field"),
      RecordGenerator.valueFor("double", a.seed, "double_field").as("double_field"),
      RecordGenerator.valueFor("int", a.seed, "int_field").as("int_field"))
  }

  /** The backlog as Confluent-framed Avro, v1 for even files and v2 for
    * odd ones, with each row's `file`. */
  private def encoded(spark: SparkSession): DataFrame = {
    val b = backlog(spark)
    def version(parity: Int, schema: Schema, id: Int): DataFrame = {
      val cols = schema.getFields.asScala.map(f => col(f.name)).toSeq
      // encode keeps the one-partition-per-file layout: partition id = file
      ConfluentAvro.encode(b.filter(col("file") % 2 === parity).select(cols: _*),
        schema, id, a.cores).withColumn("file", spark_partition_id())
    }
    version(0, V1, v1Id).union(version(1, V2, v2Id))
  }

  def stage(spark: SparkSession): Unit = {
    Seq(staged, source, checkpoint, new File(work, "derby")).foreach(rm)
    val tmp = new File(work, "staged_tmp")
    encoded(spark).coalesce(a.cores).write.partitionBy("file").parquet(tmp.toString)
    staged.mkdirs()
    for (k <- 0 until files) {
      val parts = new File(tmp, s"file=$k").listFiles().filter(_.getName.endsWith(".parquet"))
      require(parts.length == 1, s"file $k staged as ${parts.length} parquet files")
      Files.move(parts.head.toPath, new File(staged, f"f$k%05d.parquet").toPath)
    }
    rm(tmp)
  }

  private def pipeline(spark: SparkSession): DataFrame = {
    val src = StreamingPipeline.fileSource(spark, source.toString, SourceSchema, maxFilesPerTrigger = 1)
    val decoded = ConfluentAvro.decodeAuto(src, "value", V2)
    StreamOps.dedupWithinWatermark(
      decoded.withColumn("__ts", timestamp_millis(col("timestamp_field"))),
      "__ts", Watermark, Seq("key_field")).drop("__ts")
  }

  /** Move file `k` into the source directory. Its modification time is
    * set from `k`, so the file source, which takes the oldest unseen file
    * first, finds the files in admission order again after a rewind. */
  private def admit(k: Int): Unit = {
    val dst = new File(source, f"f$k%05d.parquet")
    Files.move(new File(staged, f"f$k%05d.parquet").toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
    dst.setLastModified(RecordGenerator.BaseMillis + k * 1000L)
  }

  /** Rewind the checkpoint by the last `k` batches so that exactly those
    * batches run again, each from its own file: drop their commit-log
    * entries, the offset-log entries of all but the first (which replays
    * from its logged offsets), and the file-source log entries past the
    * first's offset (so the later files are found again, one per batch).
    * The state store rolls back to the first replayed batch's version.
    * Returns the batch ids to replay. */
  private def rewind(k: Int): Seq[Long] = {
    def entries(dir: File): Seq[(Long, File)] =
      dir.listFiles().toSeq.flatMap(f => EntryName.unapplySeq(f.getName).map(g => (g.head.toLong, f)))
    val commits = new File(checkpoint, "commits")
    val offsets = new File(checkpoint, "offsets")
    val sourceLog = new File(checkpoint, "sources/0")
    val last = entries(commits).map(_._1).max
    val replay = (last - k + 1 to last).toSeq
    val logOffset = {
      val lines = Files.readAllLines(new File(offsets, replay.head.toString).toPath).asScala
      val LogOffset = """\{"logOffset":(\d+)\}""".r
      lines.collectFirst { case LogOffset(n) => n.toLong }.get
    }
    entries(commits).filter(e => replay.contains(e._1)).foreach(_._2.delete())
    entries(offsets).filter(_._1 > replay.head).foreach(_._2.delete())
    entries(sourceLog).filter(_._1 > logOffset).foreach(_._2.delete())
    replay
  }

  def run(spark: SparkSession, out: Main.Result): Unit = {
    val sink = new TransactionalJdbcSink(url, Table, "perfbench", numSlots = a.cores)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    // (batch id, sink start ns, sink end ns) of the timed stream's batches
    val writes = ArrayBuffer.empty[(Long, Long, Long)]
    val admitted = new AtomicInteger(1)
    @volatile var done = false
    @volatile var replaying = false
    val replayed = ArrayBuffer.empty[Long]
    var deadline = Long.MaxValue

    def writeBatch(batch: DataFrame, id: Long): Unit = {
      // traced run: listeners on for the cold chunk and every odd chunk, so
      // chunks with and without them give the tracing overhead
      tracer.foreach(t => if (id / Chunk == 0 || id / Chunk % 2 == 1) t.attach() else t.detach())
      val s = spans.now
      sink.writeBatch(batch, id)
      if (replaying) replayed.synchronized(replayed += id)
      else {
        writes.synchronized(writes += ((id, s, spans.now)))
        // admit until the run's seconds are up, but at least a cold pass
        // and two warm passes
        val more = System.nanoTime() < deadline || admitted.get < MinBatches
        if (more && admitted.get < files) admit(admitted.getAndIncrement())
        else done = true
      }
    }
    def start(trigger: Trigger): StreamingQuery =
      pipeline(spark).writeStream
        .foreachBatch((b: DataFrame, id: Long) => writeBatch(b, id))
        .option("checkpointLocation", checkpoint.toString)
        .trigger(trigger)
        .start()

    source.mkdirs()
    admit(0)
    // the stream starts from a settled JVM; the settling is not timed
    out.put("settle_s", JDouble(spans.timed("settle", "jvm")(JvmCounters.settle())))
    val jvm0 = JvmCounters.sample()
    val (query, load) = graft.HostLoad.around {
      spans.timed("stream", "streaming") {
        sink.ensureTables(pipeline(spark).schema)
        deadline = System.nanoTime() + a.seconds * 1000000000L
        val q = start(Trigger.ProcessingTime(0))
        while (!done && q.isActive) Thread.sleep(20)
        if (q.isActive) q.processAllAvailable()
        q.stop()
        q
      }
    }
    val jvm1 = JvmCounters.sample()
    val streamId = spans.last.id
    tracer.foreach(_.detach())
    out.check(query.exception.isEmpty, s"stream failed: ${query.exception.map(_.getMessage).orNull}")

    val progress = query.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId).toSeq
    val startMs = progress.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli)
    val trigMs = progress.map(_.durationMs.get("triggerExecution").longValue)
    val endMs = startMs.zip(trigMs).map { case (s, d) => s + d }
    progress.foreach(p => out.check(true, s"batch ${p.batchId}"))
    out.check(progress.size == admitted.get, s"${admitted.get} files admitted, ${progress.size} batches")
    // a pass is one chunk of consecutive batches; the first is cold
    val chunks = progress.indices.grouped(Chunk).filter(_.size == Chunk).toSeq
    val chunkS = chunks.map(c => (endMs(c.last) - startMs(c.head)) / 1e3)
    out.put("cold_pass_s", JDouble(chunkS.headOption.getOrElse(0.0)))
    // the end-to-end figures take the warm batches every run reaches
    // (6 to MinBatches): the same files and state in every run, whatever
    // the host's speed. Later batches carry more state and, on a faster
    // host, there are more of them.
    out.nums("warm_pass_s", chunkS.slice(1, MinBatches / Chunk))
    out.nums("op_e2e_ms", trigMs.slice(Chunk, MinBatches).map(_.toDouble))
    out.nums("op_ms", trigMs.drop(Chunk).map(_.toDouble))

    val dataRows = sink.dataCount()
    val ledgerRows = sink.ledgerCount()
    val inputRows = progress.map(_.numInputRows).sum

    // recovery: rewind the last few batches and restart, three times
    replaying = true
    val recoveryS = (1 to 3).map { k =>
      spans.timed(s"recovery.$k", "streaming") {
        val replay = rewind(ReplayBatches)
        replayed.synchronized(replayed.clear())
        val t0 = System.nanoTime()
        val q = start(Trigger.AvailableNow())
        q.awaitTermination()
        out.check(q.exception.isEmpty, s"recovery $k failed: ${q.exception.map(_.getMessage).orNull}")
        out.check(replayed == replay, s"recovery $k replayed batches $replayed, not $replay")
        (System.nanoTime() - t0) / 1e9
      }
    }
    val replayInserted = sink.dataCount() - dataRows
    out.check(replayInserted == 0, s"replay inserted $replayInserted rows")
    out.check(sink.ledgerCount() == ledgerRows, "replay changed the ledger")

    // landed rows = the distinct generated records of the admitted files
    val failures = spans.timed("check", "harness") {
      val cols = Seq("double_field", "int_field", "key_field", "string_field", "timestamp_field")
      val expected = backlog(spark)
        .filter(col("row") === col("id") && col("file") < admitted.get)
        .withColumn("int_field", when(col("file") % 2 === 0, lit(V2Default)).otherwise(col("int_field")))
        .select(cols.map(col): _*)
        .collect().map(_.toSeq).toSeq
      val conn = DriverManager.getConnection(url)
      val landed = try {
        val rs = conn.createStatement().executeQuery(
          cols.map("\"" + _ + "\"").mkString("SELECT ", ", ", s""" FROM "$Table""""))
        val rows = ArrayBuffer.empty[Seq[Any]]
        while (rs.next()) rows += cols.indices.map(i => rs.getObject(i + 1))
        rows.toSeq
      } finally conn.close()
      IngestCheck.verify(expected, landed)
    }
    out.check(failures.isEmpty, failures.mkString("; "))

    if (a.trace) {
      import Main.{median => med}
      def d(key: String): Seq[Double] =
        progress.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0))
      val sinkMs = writes.filter(w => progress.exists(_.batchId == w._1))
        .sortBy(_._1).map(w => (w._3 - w._2) / 1e6).toSeq
      val state = progress.flatMap(_.stateOperators.headOption)
      // spans: each micro-batch under the stream span, its sink write under it
      progress.indices.foreach { i =>
        val b = spans.add(streamId, s"batch.${progress(i).batchId}", "streaming",
          spans.fromEpochMs(startMs(i)), spans.fromEpochMs(endMs(i)))
        writes.find(_._1 == progress(i).batchId).foreach { w =>
          spans.add(b, "sink.write", "pipeline", w._2, w._3)
        }
      }
      val ws = chunkS.drop(1).zipWithIndex
      val (traced, untraced) = ws.partition(_._2 % 2 == 0) // chunk 1, 3, ... had listeners
      val e = tracer.get.exec

      out.layer("sink.write_ms", med(sinkMs))
      out.layer("sink.rows_written", dataRows.toDouble)
      out.layer("sink.ledger_rows", ledgerRows.toDouble)
      out.layer("sink.replay_inserted_rows", replayInserted.toDouble)
      out.layer("sink.slots_per_batch", ledgerRows.toDouble / progress.size)
      val (encS, decS) = serdeSeconds(spark)
      out.layer("serde.encode_rows_per_s", stagedRows / encS)
      out.layer("serde.decode_rows_per_s", stagedRows / decS)
      out.layer("registry.snapshot_ms", med((1 to 200).map { _ =>
        val t = System.nanoTime(); SchemaRegistry.snapshot(); (System.nanoTime() - t) / 1e6
      }))
      out.layer("stream.add_batch_ms", med(d("addBatch")))
      out.layer("stream.wal_commit_ms", med(d("walCommit")))
      out.layer("stream.commit_offsets_ms", med(d("commitOffsets")))
      out.layer("stream.latest_offset_ms", med(d("latestOffset")))
      out.layer("stream.get_batch_ms", med(d("getBatch")))
      out.layer("stream.query_planning_ms", med(d("queryPlanning")))
      out.layer("stream.overhead_ms", med(trigMs.map(_.toDouble).zip(sinkMs).map { case (t, s) => t - s }))
      out.layer("stream.recovery_s", med(recoveryS))
      out.layer("ingest.rows_per_s", dataRows / ((endMs.last - startMs.head) / 1e3))
      out.layer("state.rows_total", state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0))
      out.layer("state.memory_bytes", state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0))
      out.layer("state.commit_ms", med(state.map(_.commitTimeMs.toDouble)))
      out.layer("state.rows_dropped_by_watermark", state.map(_.numRowsDroppedByWatermark.toDouble).sum)
      out.layer("dedup.kept_ratio", dataRows.toDouble / inputRows)
      val tracedBatches = progress.count(p => p.batchId / Chunk == 0 || p.batchId / Chunk % 2 == 1)
      val perPass = Chunk.toDouble / math.max(1, tracedBatches)
      out.layer("shuffle.write_bytes", e.shuffleWrite.get * perPass)
      out.layer("shuffle.read_bytes", e.shuffleRead.get * perPass)
      out.layer("spill.bytes", e.spill.get * perPass)
      out.layer("tasks", e.tasks.get * perPass)
      out.layer("stages", e.stages.get * perPass)
      out.layer("codegen.compiles", (jvm1.compiles - jvm0.compiles).toDouble)
      out.layer("codegen.compile_ms", jvm1.compileMs - jvm0.compileMs)
      out.layer("jvm.jit_ms", load.jitSec * 1e3)
      out.layer("jvm.classes_loaded", load.classesLoaded.toDouble)
      out.layer("jvm.gc_ms", load.gcSec * 1e3)
      out.layer("host.ext_cpu_pct", load.extCpuPct)
      out.layer("trace.overhead_pct",
        if (untraced.isEmpty) 0.0 else (med(traced.map(_._1)) / med(untraced.map(_._1)) - 1) * 100)
    }
  }

  private def stagedRows: Long = files.toLong * RowsPerFile + (files - 1).toLong * Retries

  /** ConfluentAvro encode and decode timed alone over the whole backlog
    * (admitted files are in the source directory, the rest still staged). */
  private def serdeSeconds(spark: SparkSession): (Double, Double) = {
    def secs(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
    val enc = spans.timed("serde.encode", "pipeline") {
      secs(encoded(spark).write.format("noop").mode("overwrite").save())
    }
    val dec = spans.timed("serde.decode", "pipeline") {
      val all = spark.read.schema(SourceSchema).parquet(source.toString, staged.toString)
      secs(ConfluentAvro.decodeAuto(all, "value", V2).write.format("noop").mode("overwrite").save())
    }
    (enc, dec)
  }
}

object Ingest {
  val RowsPerFile = 10000
  /** Each file re-sends this many records of the previous file. */
  val Retries: Int = RowsPerFile / 20
  /** Micro-batches per pass (the cold pass is the first chunk). */
  val Chunk = 5
  val MinBatches: Int = 3 * Chunk
  /** Two thirds of the warm batch time measured when the benchmark was
    * added (4 cores), so the backlog outlasts a program up to 1.5 times
    * faster. */
  val FastestBatchMs = 450
  /** Batches each recovery rewinds and replays. */
  val ReplayBatches = 3
  /** A checkpoint log entry: `<id>`, `<id>.compact` or their `.crc`. */
  val EntryName = """\.?(\d+)(?:\.compact)?(?:\.crc)?""".r
  val Watermark = "30 seconds"
  val Subject = "perfbench-ingest-value"
  val Table = "ingest_rows"
  val V2Default = 0

  val V1: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"dataset","namespace":"com.exam","fields":[
      |{"name":"key_field","type":"string"},
      |{"name":"timestamp_field","type":"long"},
      |{"name":"string_field","type":"string"},
      |{"name":"double_field","type":"double"}]}""".stripMargin)
  /** v2 adds a field with a default: v1 frames decode with it filled in. */
  val V2: Schema = new Schema.Parser().parse(
    s"""{"type":"record","name":"dataset","namespace":"com.exam","fields":[
      |{"name":"key_field","type":"string"},
      |{"name":"timestamp_field","type":"long"},
      |{"name":"string_field","type":"string"},
      |{"name":"double_field","type":"double"},
      |{"name":"int_field","type":"int","default":$V2Default}]}""".stripMargin)

  val SourceSchema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("value", BinaryType, nullable = false)))

  def rm(f: File): Unit = org.apache.commons.io.FileUtils.deleteQuietly(f): Unit
}
