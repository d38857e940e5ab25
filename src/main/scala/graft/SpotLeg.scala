package graft

/** Dev/evidence main (r14 judge #2): spot-times ONLY the two
  * cap-regime rows (`index_build_dedup`, `dedup_prefix_join`) with
  * per-row shuffle/spill deltas, for scale legs where the full Bench
  * harness would spend ~20 min/rep on index families these rows don't
  * consume (the dhash build renders 1.5 M PNGs at sf30). Same
  * measurement discipline as Bench: interleaved reps, min reported,
  * stage-metrics listener with a calm-poll drain, one JSON line.
  *
  * Usage: runMain graft.SpotLeg <sfDir> [reps=2] [rows]
  *   rows: comma list of query keys (default the two original cap-regime
  *   rows). `index_build_dedup` is the one special name (release+build);
  *   any other name resolves through SparkEntry.queries and is written
  *   to the noop sink like Bench does — this is how scale legs time a
  *   handful of rows without paying the full harness's index families
  *   (r16 judge #4/#6).
  */
object SpotLeg {

  private class L extends org.apache.spark.scheduler.SparkListener {
    val read = new java.util.concurrent.atomic.AtomicLong
    val write = new java.util.concurrent.atomic.AtomicLong
    val spill = new java.util.concurrent.atomic.AtomicLong
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
    def snap: (Long, Long, Long) = (read.get, write.get, spill.get)
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = GraftSession.local("graft-spotleg",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val lst = new L
    spark.sparkContext.addSparkListener(lst)
    def stable(): (Long, Long, Long) = {
      var prev = lst.snap; var calm = 0; var waited = 0
      while (calm < 3 && waited < 5000) {
        Thread.sleep(50); waited += 50
        val cur = lst.snap
        if (cur == prev) calm += 1 else { calm = 0; prev = cur }
      }
      prev
    }
    val names: Seq[String] =
      if (args.length > 2) args(2).split(',').toSeq
      else Seq("index_build_dedup", "dedup_prefix_join")
    val rows = names.map {
      case n @ "index_build_dedup" => n -> (() => {
        Artifacts.release(spark, Some(dir), Some(graft.operators.Dedup.Owner))
        graft.operators.Dedup.buildIndexes(spark, dir)
      })
      case n =>
        require(SparkEntry.queries.contains(n), s"unknown spot row: $n")
        n -> (() => {
          val df = SparkEntry.queries(n)(spark, dir)
          df.write.format("noop").mode("overwrite").save()
          if (SparkEntry.callerOwnedCheckpoints(n))
            graft.operators.Curation.freeCheckpoint(df)
        })
    }
    val acc = scala.collection.mutable.LinkedHashMap
      .empty[String, List[(Double, Long, Long, Long)]]
    for (_ <- 1 to reps; (name, body) <- rows) {
      val before = stable()
      val t0 = System.nanoTime()
      body()
      val sec = (System.nanoTime() - t0) / 1e9
      val after = stable()
      acc(name) = acc.getOrElse(name, Nil) :+
        ((sec, after._1 - before._1, after._2 - before._2,
          after._3 - before._3))
    }
    def mb(b: Long) = math.round(b / 1048576.0 * 100) / 100.0
    val parts = acc.map { case (name, samples) =>
      val best = samples.minBy(_._1)
      s""""$name":{"sec":${math.round(best._1 * 1000) / 1000.0},""" +
        s""""samples_sec":[${samples.map(s =>
          math.round(s._1 * 1000) / 1000.0).mkString(",")}],""" +
        s""""shuffle_read_mb":${mb(best._2)},""" +
        s""""shuffle_write_mb":${mb(best._3)},"spill_mb":${mb(best._4)}}"""
    }
    GraftSession.release(spark)
    spark.stop()
    println(s"""{"sf_dir":"$dir","reps":$reps,${parts.mkString(",")}}""")
  }
}
