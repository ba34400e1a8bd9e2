package graft.registry

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Where registry fixtures live and when they are rebuilt — the one
  * scratch root and the one build-once memo every query family uses. */
private[registry] object Fixtures {

  /** The name of everything built per corpus: the sf dir's basename
    * for readability plus a short digest of its absolute path, because
    * two corpora sharing a basename (/data/a/sf0.01 vs /data/b/sf0.01)
    * must never share a fixture — a basename-only name would silently
    * hand corpus B what was built from corpus A. */
  def corpusTag(dir: String): String = {
    val f = new java.io.File(dir).getAbsoluteFile
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(f.getPath.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"${f.getName}-$digest"
  }

  /** `name` under the per-corpus scratch root ([[corpusTag]]). Callers
    * lead `name` with their family (`io/`, `cov/`, `stream/`, `llm/`),
    * so no two families share a directory. */
  def scratch(dir: String, name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_scratch/${corpusTag(dir)}/$name"

  /** Paths built per session. The session object itself is the key,
    * held weakly (a closed session's entry goes with it) and compared
    * by identity (SparkSession does not override `equals`). */
  private val built = new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Set[String]]()

  /** Run `build` unless this session already built `path` and `path`
    * still exists; return `path`. The memo contract of every staged
    * fixture:
    *  - the first call in a session (re)builds, so the artifact derives
    *    from the current corpus and stale leftovers from an earlier run
    *    cannot leak in; later calls time the steady-state read path;
    *  - the build is recorded only AFTER `build` returns, so a failed
    *    build stays rebuildable instead of handing every later call a
    *    missing or partial artifact;
    *  - a recorded path that is gone from disk is rebuilt (one
    *    `FileSystem.exists`, no Spark job).
    * Registry invocations are sequential per session, so check-then-act
    * is not racy here; a concurrent duplicate build would only
    * overwrite with identical content. */
  def staged(s: SparkSession, path: String)(build: => Unit): String = {
    val p = new Path(path)
    val recorded = built.synchronized(Option(built.get(s)).exists(_.contains(path)))
    if (!recorded || !p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)) {
      build
      built.synchronized(built.computeIfAbsent(s, _ => scala.collection.mutable.Set.empty) += path)
    }
    path
  }
}
