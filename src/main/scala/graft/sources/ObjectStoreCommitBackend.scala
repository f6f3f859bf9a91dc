package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** In-memory model of the object-store API surface the documented
  * cloud deployment of [[CommitBackend]] needs — and NOTHING more:
  * create-only PUT (`If-None-Match:*`), generation-tagged GET, and
  * generation-conditional replace PUT (`If-Match`). S3 conditional
  * writes (2024+), GCS `x-goog-if-generation-match`, and Azure ETag
  * preconditions all provide exactly these three; if the commit
  * protocol runs on this store, it runs on any of them. No listing,
  * no rename, no locks — an object store has none.
  *
  * Bodies are `Array[Byte]`, not String: real staged snapshot files
  * are binary parquet, and S3/GCS/Azure PUTs are byte-oriented. A
  * String model would silently hold only for text bodies (strict
  * UTF-8 decode throws or corrupts on parquet magic bytes), which
  * would make the "transliteration to a real SDK" claim dishonest.
  * The `_VERSION` / `_log` markers that genuinely carry text encode
  * and decode UTF-8 explicitly at the backend layer.
  *
  * Generations are globally monotonic (one counter), matching GCS
  * semantics; only equality with the observed generation is ever
  * relied on, so per-object ETags (S3/Azure) satisfy the same
  * contract.
  */
final class InMemoryObjectStore {
  import InMemoryObjectStore.Obj

  private val objects =
    new java.util.concurrent.ConcurrentHashMap[String, Obj]()
  private val gen = new java.util.concurrent.atomic.AtomicLong(0L)

  /** PUT `If-None-Match:*` — succeeds iff the key does not exist.
    * Exactly one concurrent caller wins (ConcurrentHashMap.putIfAbsent
    * is the linearization point, standing in for the store's
    * conditional-write arbitration).
    */
  def putIfAbsent(key: String, body: Array[Byte]): Boolean =
    objects.putIfAbsent(key, Obj(body, gen.incrementAndGet())) == null

  /** Text convenience for callers writing UTF-8 markers. */
  def putIfAbsent(key: String, body: String): Boolean =
    putIfAbsent(key, body.getBytes(UTF_8))

  /** GET returning body + generation (ETag), None if absent. */
  def get(key: String): Option[Obj] = Option(objects.get(key))

  /** PUT `If-Match: <generation>` — replaces iff the object still has
    * the observed generation; false (HTTP 412) on any interleaved
    * write or delete.
    */
  def putIfGeneration(key: String, body: Array[Byte], expected: Long): Boolean = {
    var swapped = false
    objects.computeIfPresent(key, (_, cur) =>
      if (cur.generation == expected) {
        swapped = true; Obj(body, gen.incrementAndGet())
      } else cur)
    swapped
  }

  /** Text convenience for the generation-CAS path. */
  def putIfGeneration(key: String, body: String, expected: Long): Boolean =
    putIfGeneration(key, body.getBytes(UTF_8), expected)

  /** DELETE (idempotent, like the real thing). */
  def delete(key: String): Unit = { objects.remove(key); () }

  /** Test visibility helper (a real store's LIST — not used by the
    * backend itself).
    */
  def keys(prefix: String): Seq[String] =
    objects.keySet().asScala.iterator.filter(_.startsWith(prefix)).toSeq.sorted
}

object InMemoryObjectStore {
  final case class Obj(body: Array[Byte], generation: Long) {
    /** UTF-8 view for the text markers (`_VERSION`, `_log/N`). */
    def text: String = new String(body, UTF_8)
  }
}

/** [[CommitBackend]] over conditional-PUT object storage — the cloud
  * twin of [[FilesystemCommitBackend]], implemented against
  * [[InMemoryObjectStore]] to prove the seam is sufficient without a
  * cloud SDK (none exists in this build). Every method uses ONLY the
  * three store primitives; swapping in a real S3/GCS/Azure client is
  * a transliteration, not a redesign.
  *
  *  - `claim`: create-only PUT of `_log/N` carrying the manifest body
  *    — one winner, losers see the 412-equivalent `false`.
  *  - `abortClaim`: idempotent DELETE.
  *  - `publish`: uploads each staged file (raw bytes — parquet data
  *    files included) as object `v=N/<name>` and removes the local
  *    staging dir. No rename exists; exclusivity of `v=N` comes from
  *    the claim, and reader visibility from the pointer, exactly as
  *    the trait doc specifies.
  *  - `advancePointer`: generation-CAS retry loop on `_VERSION` —
  *    read body+generation, give up if already >= next (the monotonic
  *    guard), conditional-PUT `If-Match` otherwise, re-read on 412.
  *    Lock-free; replaces the filesystem backend's flock.
  */
final class ObjectStoreCommitBackend(val store: InMemoryObjectStore)
    extends CommitBackend {

  private def key(root: String, rel: String) = s"$root/$rel"

  override def claim(root: String, next: Int, manifest: Path): Boolean =
    store.putIfAbsent(key(root, s"_log/$next"), Files.readAllBytes(manifest))

  override def abortClaim(root: String, next: Int): Unit =
    store.delete(key(root, s"_log/$next"))

  override def publish(root: String, staging: Path, next: Int): Unit = {
    val files = Files.walk(staging).iterator().asScala
      .filter(Files.isRegularFile(_)).toVector
    files.foreach { f =>
      val rel = staging.relativize(f).toString
      store.putIfAbsent(key(root, s"v=$next/$rel"), Files.readAllBytes(f)); ()
    }
    // local staging is scratch space; a real deployment writes the
    // uploads from it then discards it the same way
    Files.walk(staging).iterator().asScala.toVector.reverse
      .foreach(Files.deleteIfExists(_))
  }

  override def advancePointer(root: String, next: Int): Unit = {
    val k = key(root, "_VERSION")
    var done = false
    while (!done) {
      done = store.get(k) match {
        case None => store.putIfAbsent(k, next.toString)
        case Some(cur) =>
          cur.text.trim.toInt >= next ||
            store.putIfGeneration(k, next.toString, cur.generation)
      }
    }
  }

  override def currentVersion(root: String): Int =
    store.get(key(root, "_VERSION")).map(_.text.trim.toInt).getOrElse(0)
}
