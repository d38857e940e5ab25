package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry, Tables}
import graft.operators.{Dedup, Multimodal, Similarity}
import graft.pipeline.{BatchPipeline, RetailPipeline}
import graft.streaming.{BatchSink, EventConsumer}

/** The JVM side of the workload benchmark (see perfbench/README.md).
  *
  * `perfbench.Main <workload> <dataDir> <workDir> <seconds> <trace 0|1>
  * <seed> <cpus> <resultJson> [extra...]` starts one session through
  * `GraftSession.local`, runs the workload's setup (ending in a warm pass
  * over every distinct operation), then whole passes of its timed
  * operations for about `seconds`, checks what can only be checked
  * in-process, and writes raw samples to `resultJson`. perfbench/run.py
  * turns those samples into the reported metrics.
  */
object Main {

  final case class Opts(workload: String, data: String, work: String,
      seconds: Double, trace: Boolean, seed: Long, cpus: String, out: String,
      extra: Seq[String])

  /** What a workload run hands back: timed samples in seconds keyed by
    * "<class>:<operation>", check outcomes and failures.
    */
  final class Result {
    var setupEndMs = 0L
    /** (start, end) nanoTime of every timed operation. */
    val timedOps = mutable.ArrayBuffer.empty[(Long, Long)]
    val samples: mutable.Map[String, mutable.ArrayBuffer[Double]] =
      mutable.LinkedHashMap.empty
    val checks: mutable.Map[String, Boolean] = mutable.LinkedHashMap.empty
    val errors = mutable.ArrayBuffer.empty[String]
    val info: mutable.Map[String, Any] = mutable.LinkedHashMap.empty
    var attempted = 0
    var failed = 0

    def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
      attempted += 1
      checks(name) = ok
      if (!ok) { failed += 1; errors += s"check $name failed $detail" }
    }

    /** Run one operation; a throw counts as a failure and yields None. */
    def attempt[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch { case t: Throwable =>
        failed += 1
        errors += s"$what: ${t.getClass.getSimpleName}: ${t.getMessage}".take(500)
        t.printStackTrace()
        None
      }
    }

    /** Run one operation as a request; once setup has ended, record its
      * wall time as a sample under `key` (a failed one records nothing).
      */
    def op[T](what: String, key: String)(body: => T): Option[T] = {
      val t0 = System.nanoTime()
      val res = attempt(what)(Trace.request(body))
      val t1 = System.nanoTime()
      if (res.isDefined && setupEndMs > 0) {
        timedOps += ((t0, t1))
        samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += (t1 - t0) / 1e9
      }
      res
    }
  }

  def main(args: Array[String]): Unit = {
    val o = Opts(args(0), args(1), args(2), args(3).toDouble, args(4) == "1",
      args(5).toLong, args(6), args(7), args.drop(8).toSeq)
    if (o.trace) Trace.enable()
    val r = new Result
    val spark = Trace.span("GraftSession", "local", "construct") {
      GraftSession.local(s"perfbench-${o.workload}", o.cpus)
    }
    if (o.trace) Trace.install(spark)
    try {
      o.workload match {
        case "analyst" => Analyst.run(spark, o, r)
        case "nightly" => Nightly.run(spark, o, r)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      r.info("peak_rss_mb") = vmHwmMb()
      val out = mutable.LinkedHashMap[String, Any](
        "setup_end_ms" -> r.setupEndMs,
        "timed_s" -> r.timedOps.map { case (a, b) => b - a }.sum / 1e9,
        "samples" -> r.samples,
        "checks" -> r.checks,
        "errors" -> r.errors,
        "attempted" -> r.attempted,
        "failed" -> r.failed,
        "info" -> r.info)
      if (o.trace) out("trace") = Layers.report(r)
      new com.fasterxml.jackson.databind.ObjectMapper()
        .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
        .writeValue(new java.io.File(o.out), out)
    } finally spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Run whole passes of the timed operations: at least one, and another
    * only while it would end nearer to `seconds` than stopping now.
    */
  def passes(seconds: Double)(pass: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    var last = 0.0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 + last / 2 < seconds) {
      val p0 = System.nanoTime()
      pass(i)
      last = (System.nanoTime() - p0) / 1e9
      i += 1
    }
  }

  def writeLines(path: String, lines: Iterable[String]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), lines.asJava, StandardCharsets.UTF_8)
  }
}

/** Metabase-style analyst: read-only `SparkEntry.queries` keys over the
  * corpus and its restored indexes, one client, closed loop.
  */
object Analyst {
  import Main._

  /** Data-bound SQL operators: a handful of jobs each. */
  val scan: Seq[String] = Seq("q5_star_join", "o5_topk_per_key", "ev_funnel",
    "dedup_minhash_lsh", "sim_ivf_ann")

  /** Driver loops: tens of jobs each, nearly all wall inside the call. */
  val loop: Seq[String] = Seq("graph_label_prop", "text_bpe_train")

  /** Timed draw: each scan key three times (the first timed run of a
    * short query is still warming up; the median drops it), each loop key
    * twice.
    */
  val ScanReps = 3
  val LoopReps = 2

  def run(spark: SparkSession, o: Opts, r: Result): Unit = {
    val corpus = s"${o.data}/corpus"
    val index = s"${o.work}/index"
    // The indexes go through the lifecycle a restarted analyst session
    // sees: built and persisted by the ingest job, dropped, and restored
    // from the artifacts. The dHash sketch is built in-session.
    r.attempt("index setup") {
      Trace.span("operators.Dedup", "buildIndexes", "construct") {
        Dedup.buildIndexes(spark, corpus)
      }
      Trace.span("operators.Similarity", "buildIvfIndex", "construct") {
        Similarity.buildIvfIndex(spark, corpus)
      }
      Trace.span("operators.Dedup", "saveDedupIndex", "construct") {
        Dedup.saveDedupIndex(spark, corpus, s"$index/dedup")
      }
      Trace.span("operators.Similarity", "saveIvfIndex", "construct") {
        Similarity.saveIvfIndex(spark, corpus, s"$index/ivf")
      }
      Trace.span("GraftSession", "release", "construct") {
        GraftSession.release(spark, Some(corpus))
      }
      Trace.span("GraftSession", "loadIndexes", "construct") {
        GraftSession.loadIndexes(spark, corpus, s"$index/dedup", s"$index/ivf")
      }
      Trace.span("operators.Multimodal", "buildDhashSketch", "construct") {
        Multimodal.buildDhashSketch(spark, corpus)
      }
    }

    def query(k: String)(sink: org.apache.spark.sql.DataFrame => Unit): Unit = {
      val df = Trace.span(Layers.of(k), k, "construct") {
        SparkEntry.queries(k)(spark, corpus)
      }
      Trace.span(Layers.of(k), k, "execute")(sink(df))
    }

    // warm pass: every key once; its results are what the oracle checks
    for (k <- scan ++ loop) r.op(k, k) {
      query(k)(_.write.mode("overwrite").parquet(s"${o.work}/results/$k"))
    }
    r.setupEndMs = System.currentTimeMillis()

    // timed: each pass is a seeded order over a fixed multiset of keys, so
    // every run samples the same mix
    val rng = new Random(o.seed)
    passes(o.seconds) { _ =>
      val draw = rng.shuffle(Seq.fill(ScanReps)(scan).flatten ++
        Seq.fill(LoopReps)(loop).flatten)
      for (k <- draw) r.op(k, s"${if (scan.contains(k)) "op" else "heavy"}:$k") {
        query(k)(_.write.format("noop").mode("overwrite").save())
      }
    }
    r.info("keys") = scan ++ loop
    r.info("oracle") = (scan ++ loop).flatMap(k =>
      SparkEntry.oracleSql.get(k).map(k -> _)).toMap
  }
}

/** The write path: the reference's daily DAG as a backfill of as-of dates,
  * the retail CSV ingest, and the event-log catch-up through Structured
  * Streaming. A nightly job starts in a fresh JVM, so setup runs each leg
  * once cold; the timed phase runs them again.
  */
object Nightly {
  import Main._

  /** Admission cap per micro-batch of the catch-up replay. */
  val CatchUpRowsPerBatch = 15000L

  def run(spark: SparkSession, o: Opts, r: Result): Unit = {
    val dates = o.extra.head.split(",").toSeq.map(LocalDate.parse)
    val retailRows = o.extra(1).toLong
    val streamRows = o.extra(2).toLong
    val standings = mutable.LinkedHashMap.empty[LocalDate, org.apache.spark.sql.DataFrame]

    def daily(d: LocalDate): Unit = r.op(s"daily $d", s"op:$d") {
      val raw = spark.read.parquet(s"${o.data}/matches_raw.parquet")
      val res = Trace.span("pipeline.BatchPipeline", "run", "construct") {
        BatchPipeline.run(spark, raw, d, s"$d 02:00:00", s"${o.work}/warehouse/$d")
      }
      Trace.span("pipeline.BatchPipeline", "run", "execute") {
        res.matches.count(); res.standings.count()
      }
      standings(d) = res.standings
    }

    def retail(): Unit = r.op("retail", "rate:retail") {
      val landed = Trace.span("pipeline.RetailPipeline", "ingest", "construct") {
        RetailPipeline.ingest(spark, s"${o.data}/retail.csv", s"${o.work}/retail")
      }
      val preview = Trace.span("pipeline.RetailPipeline", "preview", "construct") {
        RetailPipeline.preview(landed)
      }
      val n = Trace.span("pipeline.RetailPipeline", "ingest", "execute") {
        landed.count()
      }
      r.check("retail_rows", n == retailRows, s"landed $n of $retailRows")
      writeLines(s"${o.work}/checks/retail-preview.jsonl", preview.toSeq.map(_.json))
    }

    // The event-log catch-up: Kafka-shaped replay (4 partitions) through
    // windowAgg under a 10-minute watermark into the idempotent parquet
    // sink, with Trigger.AvailableNow. Yields the watermark the last
    // micro-batch ran under.
    def catchUp(tag: String): Option[String] = r.op(s"stream $tag", "heavy:stream") {
      val src = Trace.span("streaming", "kafkaReplaySource", "construct") {
        EventConsumer.kafkaReplaySource(spark, s"${o.data}/stream", 4,
          CatchUpRowsPerBatch)
      }
      val agg = Trace.span("streaming", "windowAgg", "construct") {
        EventConsumer.windowAgg(src.withWatermark("ts", "10 minutes"))
      }
      val q = Trace.span("streaming", "BatchSink.start", "construct") {
        BatchSink.start(agg, s"${o.work}/$tag/out", s"${o.work}/$tag/ckpt")
      }
      Trace.span("streaming", "BatchSink.start", "execute")(q.awaitTermination())
      val admitted = q.recentProgress.map(_.numInputRows).sum
      require(admitted == streamRows, s"admitted $admitted of $streamRows rows")
      q.recentProgress.flatMap(p => Option(p.eventTime.get("watermark"))).last
    }

    def checkStream(tag: String, wm: String): Unit = r.attempt(s"stream $tag check") {
      // append mode has emitted exactly the windows the last micro-batch's
      // watermark closed; each must equal the batch windowAgg over the log
      val committed = BatchSink.readCommitted(spark, s"${o.work}/$tag/out",
        s"${o.work}/$tag/ckpt").drop("batch_id")
      val want = EventConsumer.windowAgg(Tables.t(spark, s"${o.data}/stream", "events"))
        .filter(col("window_start") + expr("INTERVAL 5 MINUTES") <=
          lit(java.sql.Timestamp.from(java.time.Instant.parse(wm))))
      val extra = committed.exceptAll(want).count()
      val missing = want.exceptAll(committed).count()
      r.check(s"stream_equals_batch_$tag", extra == 0 && missing == 0 &&
        want.count() > 0, s"$extra unexpected and $missing missing window rows")
    }

    // warm pass: each leg once, cold; the daily DAG three times, since its
    // second and third runs are still above its steady time
    dates.take(3).foreach(daily)
    retail()
    val warmWm = catchUp("warm")
    r.setupEndMs = System.currentTimeMillis()

    var timedWm = Option.empty[String]
    passes(o.seconds) { i =>
      dates.drop(3).foreach(daily)
      for (_ <- 1 to 3) retail()
      for (j <- 1 to 2) timedWm = catchUp(s"timed$i-$j")
    }

    // untimed checks
    for ((d, df) <- standings)
      writeLines(s"${o.work}/checks/standings-$d.jsonl", df.toJSON.collect().toSeq)
    warmWm.foreach(checkStream("warm", _))
    timedWm.foreach(checkStream("timed0-2", _))
    r.info("dates") = dates.map(_.toString)
    r.info("rate_items") = retailRows
  }
}
