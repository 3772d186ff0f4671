package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The standing-artifact registry: every piece of state the query
  * surface reuses across invocations (resolved base relations,
  * trained models, checkpointed derived frames, written layouts) is
  * held here, under one key space and one lifetime policy.
  *
  * An entry is addressed by an artifact `name` and a `key` (an sf-dir,
  * or a dir plus a variant), so two artifacts over one dir never
  * collide. Three kinds:
  *  - [[collected]]: frames built and collected ONCE per key, whatever
  *    the session, then re-framed from the held rows per session (a
  *    trained model is a few rows; [[value]] holds any such
  *    session-free value);
  *  - [[frame]]: a derived frame `localCheckpoint`ed once per
  *    (session, key);
  *  - [[perSession]]: any other value built once per (session, key).
  *
  * Session lifetime: a checkpoint's blocks, a resolved relation and a
  * layout written under an application id all die with the session
  * that made them, so every per-session entry whose session has
  * stopped is evicted on the next access. A harness that restarts
  * sessions in one JVM therefore neither leaks one entry per restart
  * nor reads dead blocks.
  *
  * Contract for path-derived entries: a path is written AT MOST ONCE
  * per session, BEFORE its first use, which holds for the static test
  * dirs and every fixture temp dir. Not result caching: every action
  * over a held relation still scans its files. */
object Artifacts {
  private val sessionFree =
    scala.collection.concurrent.TrieMap.empty[String, Any]
  private val bySession = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Any]

  /** A session-free value, built once per (name, key) for the life of
    * the JVM. */
  def value[V](name: String, key: String)(build: => V): V =
    sessionFree.getOrElseUpdate(s"$name@$key", build).asInstanceOf[V]

  /** A value built once per (session, name, key). */
  def perSession[V](s: SparkSession, name: String, key: String)(
      build: => V): V = {
    bySession.keysIterator.filter(_._1.sparkContext.isStopped)
      .foreach(bySession.remove)
    bySession.getOrElseUpdate((s, s"$name@$key"), build).asInstanceOf[V]
  }

  /** A derived frame, eagerly checkpointed once per (session, name,
    * key): the first call materializes it, and every consumer then
    * starts from executor storage. */
  def frame(s: SparkSession, name: String, key: String)(
      build: => DataFrame): DataFrame =
    perSession(s, name, key)(build.localCheckpoint())

  /** Frames whose rows are collected once per (name, key) on the
    * session that first asks, and re-framed per session from those
    * rows. */
  def collected(s: SparkSession, name: String, key: String)(
      build: => Seq[DataFrame]): Seq[DataFrame] =
    perSession(s, name, key) {
      value(name, key)(build.map(f =>
        (f.schema, java.util.Arrays.asList(f.collect(): _*))))
        .map { case (schema, rows) => s.createDataFrame(rows, schema) }
    }

  /** The per-session entries held for `s`, as `name@key`. */
  private[graft] def held(s: SparkSession): Set[String] =
    bySession.keysIterator
      .collect { case (owner, n) if owner eq s => n }.toSet
}
