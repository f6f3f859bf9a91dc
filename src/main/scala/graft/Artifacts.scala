package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

/** The one seam through which the library memoizes per-(session,
  * dataset) artifacts and owns their temp roots. Two rules hold here
  * and nowhere else:
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
  *    [[tempRoot]], which records it. [[clear]] (`Graft.clearCaches`)
  *    drops every registered memo, then deletes every recorded root.
  *    Registration happens where the cache is made, so no cache can be
  *    missed by a clear.
  *
  * A clear is for dataset-retirement points: a query still reading a
  * deleted root, or a build running during the clear, can fail. Plans
  * held by in-flight queries are not unpersisted; Spark's
  * ContextCleaner reclaims checkpoint blocks once the dropped
  * references are collected. The one temp root outside this seam is
  * `Tables.partRoot`, the events layout, kept across a clear for
  * in-flight readers.
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

  /** A new memo, registered so [[clear]] drops it. */
  def memo[K, V](): Memo[K, V] = {
    val m = new Memo[K, V]
    memos.add(m)
    m
  }

  /** A new temp directory named `prefix…` for an artifact to write,
    * recorded so [[clear]] deletes it.
    */
  def tempRoot(prefix: String): String = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    roots.add(root)
    root
  }

  /** Drop every registered memo, then delete every recorded root. */
  def clear(): Unit = {
    memos.forEach(_.clear())
    roots.forEach { root =>
      roots.remove(root)
      sources.SnapshotTable.deleteTree(java.nio.file.Paths.get(root))
    }
  }
}
