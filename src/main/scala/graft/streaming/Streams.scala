package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The one place a graft stream starts.
  *
  * Every `start()` clones the session, and the clone gets a new session
  * UUID. With `spark.sql.artifact.isolation.enabled` on (Spark's default),
  * the clone's jobs then run under a new executor classloader, and Spark's
  * generated-code cache is keyed on (classloader, code): every run of a
  * twin recompiled its whole plan into byte-identical classes
  * (q25_stream_window: 14 classes per warm run; SCALE.md, "Streams reuse
  * their compiled code"). Starting the stream with isolation off puts its
  * jobs on the application's default artifact state, so the compiled
  * classes stay cached across runs.
  *
  * Isolation only scopes artifacts a session adds itself (`addArtifact`,
  * Spark Connect jars and files); graft adds none, so its streams lose
  * nothing by sharing the default state. The clone copies the conf at
  * `start()`, so the previous value — set or unset — is restored as soon
  * as the stream has run, failed or not.
  *
  * Every stream checkpoints into a [[graft.TransientCache.stageDir]], so
  * the query's sweep deletes it whether the stream finished or threw.
  * Without a location Spark makes a `temporary-*` dir of its own and
  * deletes it at stop only when the query did not fail.
  */
object Streams {

  private[graft] val IsolationConf = "spark.sql.artifact.isolation.enabled"

  /** The path a file stream source reads `dir/file` through where it is: a
    * one-file glob. Given the plain file path, the source takes it as the
    * partition base path, which must be a directory; a glob sets none. One
    * file ⇒ one AvailableNow batch, and the source only reads it.
    */
  private[graft] def oneFile(dir: String, file: String): String = s"$dir/{$file}"

  /** Start `writer` as one AvailableNow pass and wait for it to end. */
  def runAvailableNow(s: SparkSession, writer: DataStreamWriter[_]): Unit = {
    val ckpt = graft.TransientCache.stageDir(s, "stream-ckpt")
    val prev = s.conf.getAll.get(IsolationConf)
    s.conf.set(IsolationConf, "false")
    try writer.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    finally prev match {
      case Some(v) => s.conf.set(IsolationConf, v)
      case None => s.conf.unset(IsolationConf)
    }
  }
}
