package graft.ops

import org.apache.spark.sql.SparkSession

/** The one way the engine scopes a session conf: run a body with
  * keys set, then put back exactly what was there. A key nobody
  * had set is UNSET again, never set to the default it read as — a
  * set() marks the key explicitly configured, so every later "is it
  * user-set?" probe (`sessionState.conf.contains`) would read true
  * and the session conf would differ from the one the caller had. */
object ConfScope {

  private def set(sess: SparkSession, key: String,
      value: String): () => Unit = {
    val conf = sess.sessionState.conf
    val prior =
      if (conf.contains(key)) Some(conf.getConfString(key)) else None
    sess.conf.set(key, value)
    () => prior.fold(sess.conf.unset(key))(sess.conf.set(key, _))
  }

  /** Run `body` with `confs` set on `sess`, restoring them after. */
  def apply[A](sess: SparkSession, confs: (String, String)*)(
      body: => A): A = {
    val undo = confs.map { case (k, v) => set(sess, k, v) }
    try body finally undo.reverseIterator.foreach(_())
  }
}
