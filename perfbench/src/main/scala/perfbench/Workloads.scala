package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{Registry, Tables}
import graft.operators.{LshIndexOps, MediaIndexOps, MultimodalOps, NetflowOps, SearchIndexOps, VectorIndexOps}

/** Shared state of one benchmark process. */
final class Env(
    val spark: SparkSession,
    val opts: Opts,
    val tracer: Tracer,
    val cleanup: Cleanup,
    val log: String => Unit,
) {
  def sf: String = opts.sfDir

  /** Stream query id → the pipeline span that started it. */
  val streamSpans = mutable.HashMap[String, Int]()

  private var ckpts = 0
  /** A fresh checkpoint directory, removed after the clock stops. */
  def checkpoint(tag: String): String = {
    ckpts += 1
    val p = Paths.get(opts.workDir, "ckpt", s"$tag-$ckpts")
    Files.createDirectories(p)
    cleanup.path(p.toString)
    p.toString
  }

  def rng(parts: Long*): Random = Seeds.rng(opts.seed, parts: _*)
}

/** Every input choice of a run derives from its seed through here. */
object Seeds {
  def rng(seed: Long, parts: Long*): Random = new Random(parts.foldLeft(seed)((h, x) => h * 1000003L + x))

  /** The order of the operations in pass `p`. */
  def passOrder[A](seed: Long, p: Int, xs: Seq[A]): Seq[A] = rng(seed, 1, p).shuffle(xs)
}

/** Outcome of one operation of the closed loop. `wallS` covers only the
  * operation itself; its output check runs after its clock stops.
  * `spanId` is the operation's span in a traced run.
  */
final case class OpResult(
    name: String,
    wallS: Double,
    samplesMs: Seq[Double],
    inputRows: Long,
    ok: Boolean,
    error: Option[String] = None,
    attrs: Map[String, Double] = Map.empty,
    traced: Boolean = false,
    spanId: Int = 0,
)

trait Workload {
  def name: String
  def streaming: Boolean

  /** Un-timed set-up. Returns named phase times in seconds. */
  def setup(env: Env): Seq[(String, Double)]

  /** Checks made during set-up: (attempted, failed). */
  def setupChecks: (Int, Int) = (0, 0)

  /** The operations of one pass. */
  def ops: Seq[String]

  /** Runs operation `op` of pass `p`. */
  def run(env: Env, op: String, p: Int): OpResult

  def teardown(env: Env): Unit = ()
}

object Workload {
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, secondsSince(t0))
  }

  def apply(name: String): Workload = name match {
    case "oneshot" => new BatchWorkload("oneshot", Catalog.oneshot)
    case "fixpoint" => new BatchWorkload("fixpoint", Catalog.fixpoint)
    case "flow_stream" => new FlowStream
    case "index_ingest" => new IndexIngest
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The registry queries each batch workload runs. Faces that read a
  * shared persisted artifact are marked; their first rep in set-up builds
  * it and is reported as `artifact_build_s`.
  */
object Catalog {
  final case class Face(name: String, readsArtifact: Boolean = false)

  val oneshot: Seq[Face] = Seq(
    Face("nf_access_trend"),
    Face("nf_top_talkers"),
    Face("nf_window_10s"),
    Face("nf_parse_project"),
    Face("q3_shipping_priority"),
    Face("q6_forecast_revenue"),
    Face("q14_promo_revenue"),
    Face("tx_search_indexed", readsArtifact = true),
  )

  val fixpoint: Seq[Face] = Seq(
    Face("dd_dedup_clusters"),
    Face("q_kcore", readsArtifact = true),
    Face("sim_kmeans_step"),
  )
}

/** Registry queries, each rep = build + plan + action. The action is a
  * noop write, so every output column is computed. Every rep's output is
  * fingerprinted and checked against its golden after its clock stops.
  */
final class BatchWorkload(val name: String, faces: Seq[Catalog.Face]) extends Workload {
  val streaming = false
  private val fns = {
    val all = Registry.queries
    faces.map(f => f.name -> all(f.name)).toMap
  }
  private var checked = 0
  private var bad = 0
  /** The latest fingerprint of each face's output. */
  val fingerprints = mutable.LinkedHashMap[String, Fingerprint.Result]()

  override def setupChecks: (Int, Int) = (checked, bad)

  /** Two checked reps of every face before the clock starts. Faces that
    * read a shared artifact go first: their first rep builds it. The
    * second rep lets the JIT settle.
    */
  def setup(env: Env): Seq[(String, Double)] = {
    var artifact = 0.0
    var warm = 0.0
    val ordered = faces.filter(_.readsArtifact) ++ faces.filterNot(_.readsArtifact)
    for (round <- 0 until 2; f <- ordered) {
      val r = rep(env, f.name)
      if (round == 0 && f.readsArtifact) artifact += r.wallS else warm += r.wallS
      env.log(f"set-up rep ${f.name} ${r.wallS}%.2f s")
      checked += 1
      if (!r.ok) { bad += 1; env.log(s"check FAILED for ${f.name} in set-up: ${r.error.getOrElse("")}") }
    }
    Seq("artifact_build_s" -> artifact, "warm_s" -> warm)
  }

  val ops: Seq[String] = faces.map(_.name)

  def run(env: Env, op: String, p: Int): OpResult = rep(env, op)

  private def rep(env: Env, q: String): OpResult = {
    val t = env.tracer
    val t0 = System.nanoTime()
    val built =
      try Right(t.span(2, "query", q) {
        val df = t.span(3, "build", q)(fns(q)(env.spark, env.sf))
        t.span(3, "plan", q)(df.queryExecution.executedPlan)
        t.span(3, "action", q)(df.write.format("noop").mode("overwrite").save())
        df
      })
      catch { case NonFatal(e) => Left(e) }
    val wall = Workload.secondsSince(t0)
    built match {
      case Left(e) => OpResult(q, wall, Nil, 0, ok = false, Some(e.toString))
      case Right(df) =>
        val err = check(env, q, df)
        OpResult(q, wall, Seq(wall * 1000), 0, ok = err.isEmpty, err)
    }
  }

  /** Compares a rep's output with its golden; the error, if any. */
  private def check(env: Env, q: String, df: DataFrame): Option[String] =
    try {
      val got = Fingerprint.of(df)
      fingerprints(q) = got
      env.opts.goldens.get(q) match {
        case Some(g) if g == got => None
        case g => Some(s"output $got, golden ${g.getOrElse("missing")}")
      }
    } catch { case NonFatal(e) => Some(s"check threw $e") }
}

object StreamRun {
  /** Every micro-batch a query ran, the trailing no-data batch that
    * flushes watermark-closed state included. Progress reports of an
    * idle query ran no batch and have no `addBatch` phase.
    */
  def batches(q: StreamingQuery): Seq[BatchRec] =
    q.recentProgress.filter(Progress.ran).map(Progress.record).toSeq

  /** Runs `body` with the RocksDB state store, which transformWithState
    * requires, and restores the session's setting afterwards.
    */
  def withRocksDb[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

/** FlowGen JSON flows → `parseRawNetflow` → noop sinks, four pipelines
  * over a finite input of fixed size. Every run's output row count is
  * checked against a count derived on the driver from the generator.
  */
final class FlowStream extends Workload {
  val name = "flow_stream"
  val streaming = true
  val rows = 20000
  val rowsPerBatch = 10000
  val pipelines = Seq("parse_project", "running_totals", "burst_peaks", "session_window")
  /** The session gap and the watermark delay of `session_window`. */
  val gapUs = 30000000L
  val delayMs = 30000L
  private var checked = 0
  private var bad = 0

  override def setupChecks: (Int, Int) = (checked, bad)

  /** Output rows `pipeline` must emit over the whole input, computed on
    * the driver from `FlowGen.field`:
    *  - parse_project: one row per input row;
    *  - running_totals and burst_peaks (update mode, one row per key
    *    seen in a micro-batch): Σ over micro-batches of the distinct
    *    source hosts. burst_peaks keys on xxhash64(ip_src), which equals
    *    the distinct-host count unless two of the ≤ 20,000 hosts collide
    *    in 64 bits;
    *  - session_window (append mode): the sessions closed by the final
    *    watermark, see [[FlowStream.closedSessions]].
    */
  def analytic(seed: Long, pipeline: String): Long = {
    def f(name: String, i: Int) = graft.sources.FlowGen.field(name, seed, i).toString
    pipeline match {
      case "parse_project" => rows.toLong
      case "running_totals" | "burst_peaks" =>
        (0 until rows by rowsPerBatch).map { b =>
          (b until math.min(b + rowsPerBatch, rows)).map(f("ip_src", _)).distinct.size.toLong
        }.sum
      case "session_window" =>
        FlowStream.closedSessions(
          (0 until rows).map(i => f("ip_src", i) -> FlowStream.micros(f("timestamp_start", i))),
          gapUs, delayMs)
    }
  }

  /** Runs `pipeline` over the whole input and returns its micro-batches. */
  def run(env: Env, pipeline: String): Seq[BatchRec] = {
    val spark = env.spark
    import spark.implicits._
    val src = NetflowOps.parseRawNetflow(
      spark.readStream.format(classOf[graft.sources.FlowGen].getName)
        .option("rows", rows).option("rowsPerBatch", rowsPerBatch)
        .option("seed", env.opts.seed).option("emit", "json").load())
    val ckpt = env.checkpoint(pipeline)
    def drain(df: DataFrame, mode: String): Seq[BatchRec] = {
      val q = df.writeStream.format("noop").outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      env.streamSpans(q.id.toString) = env.tracer.current
      q.awaitTermination()
      StreamRun.batches(q)
    }
    pipeline match {
      case "parse_project" =>
        drain(src.select($"ip_src", $"ip_dst", $"bytes", $"packets", $"timestamp"), "append")
      case "running_totals" =>
        StreamRun.withRocksDb(spark) {
          val in = src.select($"ip_src", $"bytes").as[(String, Long)]
          drain(graft.streaming.RunningTotals.runningBytes(in).toDF("host", "total_bytes"), "update")
        }
      case "burst_peaks" =>
        StreamRun.withRocksDb(spark) {
          val in = src.select(
            xxhash64(col("ip_src")).as("userId"),
            col("bytes").cast("long").as("id"),
            unix_micros(to_timestamp(col("timestamp"))).as("tsMicros"),
          ).as[graft.streaming.BurstEvent]
          drain(graft.streaming.BurstStream.peaks(in).toDF(), "update")
        }
      case "session_window" =>
        // Built as graft.Bench builds it.
        val agg = src.withColumn("ts", to_timestamp(col("timestamp")))
          .withWatermark("ts", s"${delayMs / 1000} seconds")
          .groupBy(session_window(col("ts"), s"${gapUs / 1000000} seconds"), col("ip_src"))
          .agg(sum(col("bytes")).as("bytes"), count(lit(1)).as("n_flows"))
        drain(agg, "append")
    }
  }

  /** One checked run per pipeline warms the code paths. */
  def setup(env: Env): Seq[(String, Double)] = {
    val (_, s) = Workload.timed {
      pipelines.foreach { p =>
        checked += 1
        val r = run(env, p, -1)
        if (!r.ok) { bad += 1; env.log(s"check FAILED for $p in set-up: ${r.error.getOrElse("")}") }
      }
      env.cleanup.flush()
    }
    Seq("artifact_build_s" -> 0.0, "warm_s" -> s)
  }

  def ops: Seq[String] = pipelines

  def run(env: Env, p: String, pass: Int): OpResult =
    try {
      val (batches, wall) = Workload.timed(env.tracer.span(2, "pipeline", p)(run(env, p)))
      val out = batches.map(_.outputRows).sum
      val want = analytic(env.opts.seed, p)
      val ok = out == want
      OpResult(p, wall, batches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble),
        rows.toLong, ok, if (ok) None else Some(s"emitted $out rows, expected $want"))
    } catch {
      case NonFatal(e) => OpResult(p, 0, Nil, rows.toLong, ok = false, Some(e.toString))
    }
}

object FlowStream {
  /** Epoch microseconds (UTC) of a FlowGen timestamp string. */
  def micros(ts: String): Long = {
    val t = java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
    t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000
  }

  /** Sessions that an append-mode `session_window(ts, gap)` with
    * `withWatermark(ts, delay)` emits once a finite input has drained:
    * per key, events less than `gapUs` apart share a session ending
    * `gapUs` after its last event; a session is emitted when its end is
    * at or before the final watermark, the input's latest event time in
    * whole milliseconds less the delay (Spark's watermark arithmetic).
    * The input must arrive in event-time order, so no row is late.
    */
  def closedSessions(events: Seq[(String, Long)], gapUs: Long, delayMs: Long): Long =
    if (events.isEmpty) 0L
    else {
      val watermarkUs = (Math.floorDiv(events.map(_._2).max, 1000L) - delayMs) * 1000L
      events.groupBy(_._1).values.map { evs =>
        val ends = mutable.ArrayBuffer[Long]()
        evs.map(_._2).sorted.foreach { t =>
          if (ends.nonEmpty && t < ends.last) ends(ends.size - 1) = t + gapUs
          else ends += t + gapUs
        }
        ends.count(_ <= watermarkUs).toLong
      }.sum
    }
}

/** The four ledgered streaming writers. Each operation starts one
  * writer's stream, feeds it `waves` MemoryStream waves of fresh,
  * disjoint ids, draining each wave as one micro-batch, and stops it.
  * This is graft.Bench's ingest shape (4 waves per stream start): the
  * vector and search indexes are seeded from the whole corpus, the LSH
  * and media indexes grow from empty.
  */
final class IndexIngest extends Workload {
  val name = "index_ingest"
  val streaming = true
  val writers = Seq("vector", "search", "lsh", "media")
  val waves = 3
  val waveRows = 250
  private var checked = 0
  private var bad = 0
  private val prefix = mutable.HashMap[String, String]()
  private var texts: Array[String] = Array.empty
  private var vecs: Array[Array[Float]] = Array.empty
  private var media: Array[(String, Array[Byte])] = Array.empty
  private var nextId = 0L
  /** Rows of each writer's index table after its last operation. */
  private val indexRows = mutable.HashMap[String, Long]()

  override def setupChecks: (Int, Int) = (checked, bad)

  /** Rows of the index table that holds one row per ingested item. */
  private def indexTable(w: String): String = prefix(w) + (w match {
    case "vector" => "_vectors"
    case "media" => "_fps"
    case _ => "_docs"
  })

  /** Draws the seed-chosen corpus samples the waves take their payloads
    * from and the seed-chosen id offset, creates each index as
    * graft.Bench does, then runs every writer once with a single wave,
    * checked, to warm its code paths.
    */
  def setup(env: Env): Seq[(String, Double)] = {
    val spark = env.spark
    import spark.implicits._
    val (_, artifactS) = Workload.timed {
      val r = env.rng(3)
      // Fresh ids start far above the corpus's, at a seed-chosen offset.
      nextId = 10000000L + r.nextInt(1000) * 100000L
      val docs = Tables.documents(spark, env.sf)
      texts = r.shuffle(docs.sort("doc_id").select($"text").as[String].take(1000).toSeq).toArray
      val emb = Tables.embeddings(spark, env.sf)
      vecs = r.shuffle(emb.sort("vec_id").select($"embedding").as[Array[Float]].take(1000).toSeq).toArray
      media = MultimodalOps.encodeMedia(docs.filter(col("doc_id") < 1500))
        .filter(col("media_type") === "image")
        .select($"media_type", $"payload").as[(String, Array[Byte])].collect()
      media = r.shuffle(media.toSeq).toArray
      val none = col("doc_id") < 0
      writers.foreach { w =>
        val pre = Tables.tempIndexDb(spark, "perfbench", w)
        prefix(w) = pre
        val t0 = System.nanoTime()
        w match {
          case "vector" =>
            VectorIndexOps.writeIndex(emb, dim = 64, isSeed = col("vec_id") < 8,
              iters = 2, buckets = 8, prefix = pre)
          case "search" =>
            SearchIndexOps.writeIndex(docs.select($"doc_id", $"text"), buckets = 8, prefix = pre)
          case "lsh" =>
            LshIndexOps.writeIndex(docs.filter(none).select($"doc_id", $"text"),
              n = 3, k = 32, bands = 8, buckets = 8, prefix = pre)
          case "media" =>
            MediaIndexOps.writeIndex(
              MultimodalOps.encodeMedia(docs.filter(none)).select($"doc_id", $"media_type", $"payload"),
              regions = 49, blockBands = 6, buckets = 8, prefix = pre)
        }
        env.log(f"created the $w index in ${Workload.secondsSince(t0)}%.2f s")
      }
    }
    val (_, warmS) = Workload.timed {
      writers.foreach { w =>
        checked += 1
        val r = op(env, w, -1, waves = 1)
        if (!r.ok) { bad += 1; env.log(s"check FAILED for $w in set-up: ${r.error.getOrElse("")}") }
      }
      env.cleanup.flush()
    }
    Seq("artifact_build_s" -> artifactS, "warm_s" -> warmS)
  }

  def ops: Seq[String] = writers

  def run(env: Env, w: String, p: Int): OpResult = op(env, w, p, waves)

  private def filesUnder(env: Env, w: String): (Long, Long) = {
    val db = prefix(w).takeWhile(_ != '.')
    val loc = Paths.get(new java.net.URI(env.spark.catalog.getDatabase(db).locationUri))
    if (!Files.exists(loc)) (0L, 0L)
    else {
      val all = Files.walk(loc)
      try {
        import scala.jdk.CollectionConverters._
        val fs = all.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          p.toString.contains(prefix(w).drop(db.length + 1)) && !p.getFileName.toString.startsWith(".")).toSeq
        (fs.size.toLong, fs.map(p => Files.size(p)).sum)
      } finally all.close()
    }
  }

  /** One stream start of writer `w`. The index must grow by every row
    * streamed, less the ones the dedup writers report as duplicates.
    */
  private def op(env: Env, w: String, p: Int, waves: Int): OpResult = {
    val spark = env.spark
    val n = waves * waveRows
    val ids = nextId until nextId + n
    nextId += n
    val r = env.rng(5, p, writers.indexOf(w))
    try {
      // The ledger restarts with each fresh checkpoint's batch ids.
      spark.sql(s"DROP TABLE IF EXISTS ${prefix(w)}_batches")
      val traced = env.tracer.enabled
      val before = indexRows.getOrElseUpdate(w, spark.table(indexTable(w)).count())
      val (files0, bytes0) = if (traced) filesUnder(env, w) else (0L, 0L)
      val ckpt = env.checkpoint(s"ingest-$w")
      val dupIds = mutable.Set[Long]()
      val (q, wall) = Workload.timed(env.tracer.span(2, "pipeline", w)(ingest(env, w, ckpt, ids, r, dupIds)))
      val batches = StreamRun.batches(q)
      val after = spark.table(indexTable(w)).count()
      indexRows(w) = after
      // Layer figures are read only in traced operations.
      val (files1, bytes1) = if (traced) filesUnder(env, w) else (0L, 0L)
      val ledger = if (traced) spark.table(s"${prefix(w)}_batches").count() else 0L
      val grown = after - before
      val ok = grown + dupIds.size == n
      OpResult(w, wall, batches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble), n, ok,
        if (ok) None else Some(s"index grew by $grown with ${dupIds.size} duplicates for $n rows"),
        Map("index_files_written" -> (files1 - files0).toDouble,
          "index_mb_written" -> (bytes1 - bytes0) / 1048576.0,
          "ledger_rows" -> ledger.toDouble))
    } catch {
      case NonFatal(e) => OpResult(w, 0, Nil, n, ok = false, Some(e.toString))
    }
  }

  /** Runs writer `w` over `ids`: starts it, feeds them in `waves` waves,
    * draining each, and stops it.
    */
  private def ingest(env: Env, w: String, ckpt: String, ids: Seq[Long], r: Random,
      dupIds: mutable.Set[Long]): StreamingQuery = {
    val spark = env.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val pre = prefix(w)
    def onDups(d: DataFrame, id: Long): Unit =
      dupIds ++= d.select(col(d.columns.head)).as[Long].collect()
    def pick[A](xs: Array[A]): A = xs(r.nextInt(xs.length))
    def drive[A](in: MemoryStream[A], q: StreamingQuery, rows: Seq[A]): StreamingQuery = {
      env.streamSpans(q.id.toString) = env.tracer.current
      try rows.grouped(waveRows).foreach { wave => in.addData(wave); q.processAllAvailable() }
      finally q.stop()
      q
    }
    w match {
      case "vector" =>
        val in = MemoryStream[(Long, Array[Float])]
        val rows = ids.map(i => (i, pick(vecs)))
        drive(in, VectorIndexOps.streamingIngest(spark, pre, in.toDF().toDF("vec_id", "embedding"), ckpt), rows)
      case "search" =>
        val in = MemoryStream[(Long, String)]
        val rows = ids.map(i => (i, pick(texts)))
        drive(in, SearchIndexOps.streamingIndex(spark, pre, in.toDF().toDF("doc_id", "text"), ckpt), rows)
      case "lsh" =>
        val in = MemoryStream[(Long, String)]
        val rows = ids.map(i => (i, pick(texts)))
        drive(in, LshIndexOps.streamingDedup(spark, pre, in.toDF().toDF("doc_id", "text"),
          n = 3, k = 32, bands = 8, buckets = 8, threshold = 0.8, checkpoint = ckpt,
          onDups = onDups), rows)
      case "media" =>
        val in = MemoryStream[(Long, String, Array[Byte])]
        val rows = ids.map { i => val m = pick(media); (i, m._1, m._2) }
        drive(in, MediaIndexOps.streamingDedup(spark, pre,
          in.toDF().toDF("doc_id", "media_type", "payload"),
          regions = 49, blockBands = 6, buckets = 8, maxHamming = 5, checkpoint = ckpt,
          onDups = onDups), rows)
    }
  }

  override def teardown(env: Env): Unit =
    prefix.values.map(_.takeWhile(_ != '.')).toSeq.distinct.foreach { db =>
      env.cleanup.later(s"database $db")(env.spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE"))
    }
}
