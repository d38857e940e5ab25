package perfbench

import scala.collection.mutable

import graft.operators.{Curation, Dedup, EventAnalytics, Multimodal,
  Relational, Similarity, TextAnalysis}
import graft.streaming.{DocStream, EventConsumer}

/** The graft modules the benchmark attributes work to, and the per-layer
  * metrics a traced run reports for them.
  */
object Layers {

  val all: Seq[String] = Seq("GraftSession", "pipeline.BatchPipeline",
    "pipeline.RetailPipeline", "operators.Relational",
    "operators.EventAnalytics", "operators.Dedup", "operators.Similarity",
    "operators.Multimodal", "operators.Curation", "operators.TextAnalysis",
    "streaming")

  private lazy val byKey: Map[String, String] = Seq(
    "operators.Relational" -> Relational.queries.keySet,
    "operators.EventAnalytics" -> EventAnalytics.queries.keySet,
    "operators.Dedup" -> Dedup.queries.keySet,
    "operators.Similarity" -> Similarity.queries.keySet,
    "operators.Multimodal" -> Multimodal.queries.keySet,
    "operators.Curation" -> Curation.queries.keySet,
    "operators.TextAnalysis" -> TextAnalysis.queries.keySet,
    "streaming" -> (EventConsumer.queries.keySet ++ DocStream.queries.keySet),
  ).flatMap { case (layer, keys) => keys.map(_ -> layer) }.toMap

  /** The module whose `queries` map defines `key`. */
  def of(key: String): String = byKey(key)

  /** Layers whose public functions here return no frame, so the
    * benchmark never executes anything on their behalf.
    */
  private val constructOnly = Set("GraftSession", "operators.Multimodal")

  /** Per-layer totals over the traced run, plus how much of the timed
    * wall the spans cover.
    */
  def report(r: Main.Result): Map[String, Any] = {
    val spans = Trace.allSpans
    val out = mutable.LinkedHashMap.empty[String, Any]
    val mb = 1024.0 * 1024.0
    for (layer <- all) {
      val ss = spans.filter(_.layer == layer)
      def self(kind: String) = ss.filter(_.kind == kind).map(_.selfNs).sum / 1e9
      out(s"$layer.calls") = ss.count(_.kind == "construct")
      out(s"$layer.construct_s") = self("construct")
      if (!constructOnly(layer)) out(s"$layer.execute_s") = self("execute")
      out(s"$layer.jobs") = ss.map(_.jobs).sum
      out(s"$layer.tasks") = ss.map(_.tasks).sum
      out(s"$layer.exec_cpu_s") = ss.map(_.cpuNs).sum / 1e9
      out(s"$layer.shuffle_mb") = ss.map(_.shuffleBytes).sum / mb
      out(s"$layer.plan_ms") = ss.map(_.planNs).sum / 1e6
    }
    for (layer <- Seq("pipeline.BatchPipeline", "pipeline.RetailPipeline"))
      out(s"$layer.write_mb") = spans.filter(_.layer == layer)
        .map(_.writeBytes).sum / mb
    val ms = Trace.streamMs
    out("streaming.get_batch_ms") = ms("latestOffset") + ms("getBatch")
    out("streaming.add_batch_ms") = ms("addBatch")
    out("streaming.query_planning_ms") = ms("queryPlanning")
    out("streaming.wal_commit_ms") = ms("walCommit") + ms("commitOffsets")
    out("streaming.state_rows") = Trace.stateRowsPeak
    out("jvm.gc_s") = Trace.gcNs() / 1e9

    // how much of the timed operations' wall the top-level spans cover
    val timed = spans.filter(s => s.parent < 0 &&
      r.timedOps.exists { case (a, b) => s.start >= a && s.end <= b })
    val wall = r.timedOps.map { case (a, b) => b - a }.sum / 1e9
    val covered = timed.map(s => s.end - s.start).sum / 1e9
    Map("metrics" -> out, "timed_wall_s" -> wall, "covered_s" -> covered,
      "uncovered_s" -> (wall - covered), "spans" -> spans.size,
      "span_rows" -> spans.map(s => Seq(s.id, s.layer, s.name, s.kind,
        s.parent, s.request, s.start, s.end, s.selfNs, s.jobs, s.tasks,
        s.cpuNs, s.shuffleBytes, s.spillBytes, s.writeBytes, s.planNs)))
  }
}
