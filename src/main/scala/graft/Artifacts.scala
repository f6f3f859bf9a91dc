package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one seam through which the library memoizes per-(session,
  * dataset) artifacts, owns their temp roots and pins DataFrames.
  * Three rules hold here and nowhere else:
  *
  *  - Lock rule: a [[Memo]] never runs a build under a map lock. Its
  *    map only ever stores a cheap lazy holder (an O(1) `putIfAbsent`);
  *    the build runs under that holder's own monitor. Same-key callers
  *    wait for one build, different-key callers never contend, and a
  *    build may `get` another key of the same memo (or another memo).
  *    `ConcurrentHashMap.computeIfAbsent(k, f)` instead holds k's bin
  *    lock for f's whole duration: a multi-second Spark job in f
  *    serializes every concurrent caller whose key shares the bin, and
  *    a nested compute on the same map is a forbidden recursive update.
  *  - Retirement rule: every memo is made by [[memo]], which registers
  *    it, and every temp directory an artifact writes is made by
  *    [[tempRoot]] or [[exitRoot]], which record it. [[clear]]
  *    (`Graft.clearCaches`) drops every registered memo, then deletes
  *    every [[tempRoot]]. One shutdown hook deletes every recorded root
  *    of both kinds when the JVM exits, so a JVM that never clears
  *    leaves no tree behind. Registration happens where the cache or
  *    root is made, so none can be missed.
  *  - Pin rule: every DataFrame the library materializes once for
  *    several consumers is pinned by [[pin]] or [[pinned]], and the
  *    posture is Spark's local checkpoint: the rows go to executor
  *    block storage and the lineage is truncated. So a lost block
  *    cannot be recomputed; the query reading it fails. An eager pin
  *    runs its job now, which a site needs when its rows must be
  *    fixed before a later write (a snapshot commit, an overwrite of
  *    the path it read); a lazy pin materializes on the first
  *    consumer's action. A [[pinned]] scope releases the blocks when
  *    its body returns or throws, which every write path needs (a
  *    stream pins per micro-batch); an unscoped [[pin]] is for
  *    memoized or returned frames, whose blocks Spark's
  *    ContextCleaner reclaims once the frame is unreachable.
  *
  * A clear is for dataset-retirement points: a query still reading a
  * deleted root, or a build running during the clear, can fail. Plans
  * held by in-flight queries are not unpersisted; Spark's
  * ContextCleaner reclaims checkpoint blocks once the dropped
  * references are collected. An [[exitRoot]] (the events layout,
  * `Tables.partRoot`) is kept across a clear for in-flight readers.
  */
private[graft] object Artifacts {

  /** A lock-scope-safe memo: see the lock rule above. */
  final class Memo[K, V] private[Artifacts] () {
    // `computed` flips only after f() returned — so peek can tell a
    // successfully-memoized holder from one whose first compute THREW
    // (a Scala lazy val retries a failed initializer on the next force:
    // peek would otherwise re-run a full Spark build, or rethrow)
    private final class Holder(f: () => V) {
      @volatile var computed = false
      lazy val value: V = { val v = f(); computed = true; v }
    }
    private val map = new ConcurrentHashMap[K, Holder]()

    /** The memoized value for `key`, computing `f` at most once per key
      * (subsequent and concurrent callers get the first call's result).
      */
    def get(key: K)(f: => V): V = {
      var h = map.get(key)
      if (h == null) {
        val nh = new Holder(() => f)
        val prev = map.putIfAbsent(key, nh)
        h = if (prev == null) nh else prev
      }
      h.value
    }

    /** The value for `key` if it has been computed (never computes —
      * a holder whose compute failed reads as absent).
      */
    def peek(key: K): Option[V] =
      Option(map.get(key)).filter(_.computed).map(_.value)

    /** Store a pre-computed value (overwrites any holder). */
    def put(key: K, value: V): Unit = {
      val h = new Holder(() => value)
      h.value // force now, so peek never runs a thunk
      map.put(key, h)
      ()
    }

    def remove(key: K): Unit = { map.remove(key); () }
    def clear(): Unit = map.clear()
  }

  private val memos = new ConcurrentLinkedQueue[Memo[_, _]]()
  private val roots = ConcurrentHashMap.newKeySet[String]()
  private val exitRoots = ConcurrentHashMap.newKeySet[String]()

  // best effort per root: one that fails to delete (say, still being
  // written at exit) must not keep the others on disk
  sys.addShutdownHook {
    (roots.asScala ++ exitRoots.asScala).foreach(root => scala.util.Try(delete(root)))
  }

  /** A new memo, registered so [[clear]] drops it. */
  def memo[K, V](): Memo[K, V] = {
    val m = new Memo[K, V]
    memos.add(m)
    m
  }

  /** A new temp directory named `prefix…` for an artifact to write,
    * recorded so [[clear]] (or, failing that, JVM exit) deletes it.
    */
  def tempRoot(prefix: String): String = record(roots, prefix)

  /** A new temp directory named `prefix…` that survives [[clear]] and
    * is deleted only at JVM exit.
    */
  def exitRoot(prefix: String): String = record(exitRoots, prefix)

  private def record(set: java.util.Set[String], prefix: String): String = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    set.add(root)
    root
  }

  /** `df` pinned by the pin rule; eager runs the materializing job now. */
  def pin(df: DataFrame, eager: Boolean): DataFrame = df.localCheckpoint(eager)

  /** `body` over `df` pinned by the pin rule; the blocks are released
    * when `body` returns or throws.
    */
  def pinned[T](df: DataFrame, eager: Boolean)(body: DataFrame => T): T = {
    val p = pin(df, eager)
    try body(p) finally release(p)
  }

  // `Dataset.unpersist` only uncaches `cache()`d plans: a checkpoint's
  // blocks belong to the RDD in the pinned plan's LogicalRDD leaf.
  // Unpersisting a lazy pin that never materialized is a no-op.
  private def release(pinned: DataFrame): Unit =
    pinned.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  private def delete(root: String): Unit =
    sources.SnapshotTable.deleteTree(java.nio.file.Paths.get(root))

  /** Drop every registered memo, then delete every [[tempRoot]]. */
  def clear(): Unit = {
    memos.forEach(_.clear())
    roots.forEach { root =>
      roots.remove(root)
      delete(root)
    }
  }
}
