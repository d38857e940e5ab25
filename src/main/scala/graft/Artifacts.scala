package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of graft's session-scoped memo artifacts: signature and
  * IVF indexes, pixel/dHash indexes, the cleaned corpus, cluster labels,
  * the daily event aggregate, replay logs, eval shingle sets and probe
  * broadcasts. Every entry is keyed by (session id, corpus dir, owner,
  * key) and carries the action that frees its storage on eviction.
  *
  * The registry imposes no storage policy: each build closure keeps its
  * own (persist + eager count, lazy persist, localCheckpoint, driver
  * heap). The session id comes from [[GraftSession.sessionId]], so a
  * rewritten fixture at the same dir is rebuilt by a fresh session
  * instead of serving a dead session's artifact.
  */
object Artifacts {

  /** What an entry is called, without its value: the inventory row. */
  final case class Name(dir: String, owner: String, key: Any)

  private final case class Entry(value: Any, free: () => Unit)

  private val entries = TrieMap.empty[(String, Name), Entry]

  /** Free action for persisted frames: unpersist, blocking, so executor
    * memory is free on return.
    */
  val unpersist: DataFrame => Unit = _.unpersist(blocking = true)

  /** The memoized artifact for (session, dir, owner, key), built by
    * `build` on first use; `free` runs when the entry is released.
    */
  def getOrBuild[A](spark: SparkSession, dir: String, owner: String,
      key: Any, free: A => Unit)(build: => A): A =
    entries.getOrElseUpdate((GraftSession.sessionId(spark),
        Name(dir, owner, key)), {
      val a = build
      Entry(a, () => free(a))
    }).value.asInstanceOf[A]

  /** Install a restored artifact, freeing any entry it replaces. */
  def put[A](spark: SparkSession, dir: String, owner: String, key: Any,
      free: A => Unit)(value: A): Unit =
    entries.put((GraftSession.sessionId(spark), Name(dir, owner, key)),
      Entry(value, () => free(value))).foreach(_.free())

  /** Evict and free this session's entries — all of them, or only those
    * of `dir`, of `owner` and/or under `key`. Queries stay valid
    * afterwards: the next consumer rebuilds.
    */
  def release(spark: SparkSession, dir: Option[String] = None,
      owner: Option[String] = None, key: Option[Any] = None): Unit = {
    val sid = GraftSession.sessionId(spark)
    entries.keys.toSeq
      .filter { case (s, n) => s == sid && dir.forall(_ == n.dir) &&
        owner.forall(_ == n.owner) && key.forall(_ == n.key) }
      .foreach(entries.remove(_).foreach(_.free()))
  }

  /** The names of this session's live entries. */
  def inventory(spark: SparkSession): Seq[Name] = {
    val sid = GraftSession.sessionId(spark)
    entries.keys.collect { case (s, n) if s == sid => n }.toSeq
  }
}
