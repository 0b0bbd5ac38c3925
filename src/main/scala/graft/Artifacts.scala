package graft

import java.lang.ref.WeakReference

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one store for at-rest artifacts: corpus frames, trained
  * codebooks and models, bucketed layouts — anything the engine builds
  * once and every later query reuses, the way a warehouse builds an
  * index once and bills later queries nothing for it.
  *
  * Entries are keyed on (SparkSession, kind, params) and live exactly
  * as long as their SparkContext: one listener per context drops that
  * context's entries when the application ends, so a stopped session is
  * never held. [[clear]] drops everything (bench min-of-N builds).
  *
  * Validity is one rule, [[snapshotToken]]: an artifact built from a
  * corpus goes through [[ofCorpus]], which folds the token of the
  * corpus's files into the key, so a corpus rewritten in place under the
  * same path rebuilds instead of serving a stale entry. [[get]] skips the
  * token for entries whose inputs cannot change within a session. Entries
  * need no release on drop: every one is driver-held metadata or a frame
  * over at-rest files, never a cache or checkpoint.
  */
object Artifacts {

  private val entries =
    new scala.collection.concurrent.TrieMap[(SparkSession, String, Any), Any]

  private val listeners = new java.util.WeakHashMap[SparkContext, SparkListener]

  /** `build` memoized per (session, kind, params). */
  def get[A](spark: SparkSession, kind: String, params: Any)(build: => A): A =
    entries.getOrElseUpdate((spark, kind, params), {
      listenerFor(spark.sparkContext)
      build
    }).asInstanceOf[A]

  /** `build` memoized per (session, kind, corpus snapshot, params). */
  def ofCorpus[A](corpus: DataFrame, kind: String, params: Any)(build: => A): A =
    get(corpus.sparkSession, kind, (snapshotToken(corpus), params))(build)

  /** Corpus snapshot token: file count + per-file (path, length, mtime)
    * folded into one hash, read from the plan's already-materialized
    * file listing. Non-file frames (in-memory tests) token as "mem". */
  private def snapshotToken(corpus: DataFrame): String = {
    val files = corpus.inputFiles.sorted
    if (files.isEmpty) "mem"
    else {
      val conf = corpus.sparkSession.sessionState.newHadoopConf()
      var acc = 17L
      files.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val st = p.getFileSystem(conf).getFileStatus(p)
        acc = acc * 31 + f.hashCode
        acc = acc * 31 + st.getLen
        acc = acc * 31 + st.getModificationTime
      }
      s"${files.length}:${java.lang.Long.toHexString(acc)}"
    }
  }

  /** Drop every entry; the next lookup of each rebuilds. */
  def clear(): Unit = entries.clear()

  /** The context's listener, registered on first use. It holds the
    * context weakly, so the map's weak key can still be collected. */
  private[graft] def listenerFor(sc: SparkContext): SparkListener =
    listeners.synchronized {
      var l = listeners.get(sc)
      if (l == null) {
        val ref = new WeakReference(sc)
        l = new SparkListener {
          override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
            entries.keys.filter(_._1.sparkContext eq ref.get).foreach(entries.remove)
        }
        sc.addSparkListener(l)
        listeners.put(sc, l)
      }
      l
    }
}
