package graft

import java.nio.file.{Files, Path, Paths}

import graft.sources.{CommitBackend, FilesystemCommitBackend,
  InMemoryObjectStore, ObjectStoreCommitBackend}
import org.scalatest.funsuite.AnyFunSuite

/** Laws of the storage seam SnapshotTable's commit protocol stands on:
  * claim is an exclusive CAS born with full manifest content, abort is
  * idempotent, publish makes the staged files visible under `v=N`, and
  * the reader pointer only ever moves forward — under thread races
  * too. The SAME battery runs against both backends — the POSIX one
  * the snapshot suites exercise end-to-end, and the conditional-PUT
  * object-store twin — proving the trait is a sufficient contract for
  * a cloud port, not just a wrapper around rename(2).
  */
class CommitBackendSpec extends AnyFunSuite {

  /** What the battery needs beyond the trait itself: observing a
    * marker's content and a published file, which a reader does
    * through the filesystem on one backend and through GETs on the
    * other.
    */
  private trait Fixture {
    def name: String
    def backend: CommitBackend
    def markerContent(root: String, slot: Int): Option[String]
    def publishedBytes(root: String, v: Int, file: String): Option[Array[Byte]]
    final def publishedFile(root: String, v: Int, file: String): Option[String] =
      publishedBytes(root, v, file)
        .map(new String(_, java.nio.charset.StandardCharsets.UTF_8))
  }

  private object FsFixture extends Fixture {
    val name = "filesystem"
    val backend = FilesystemCommitBackend
    def markerContent(root: String, slot: Int): Option[String] = {
      val p = Paths.get(root, "_log", slot.toString)
      if (Files.exists(p)) Some(Files.readString(p)) else None
    }
    def publishedBytes(root: String, v: Int, file: String): Option[Array[Byte]] = {
      val p = Paths.get(root, s"v=$v", file)
      if (Files.exists(p)) Some(Files.readAllBytes(p)) else None
    }
  }

  private object ObjFixture extends Fixture {
    val name = "object-store"
    private val store = new InMemoryObjectStore
    val backend = new ObjectStoreCommitBackend(store)
    def markerContent(root: String, slot: Int): Option[String] =
      store.get(s"$root/_log/$slot").map(_.text)
    def publishedBytes(root: String, v: Int, file: String): Option[Array[Byte]] =
      store.get(s"$root/v=$v/$file").map(_.body)
  }

  private val fixtures: Seq[Fixture] = Seq(FsFixture, ObjFixture)

  private def freshRoot(tag: String): String = {
    val r = Paths.get(Artifacts.exitRoot(s"graft-backend-$tag"))
    Files.createDirectories(r.resolve("_log"))
    r.toString
  }

  private def manifest(root: String, body: String): Path = {
    val p = Paths.get(root, s"_staging-m-${java.util.UUID.randomUUID()}")
    Files.writeString(p, body)
    p
  }

  for (f <- fixtures) {
    val b = f.backend

    test(s"${f.name}: claim is exclusive per slot and the marker carries the manifest content") {
      val root = freshRoot("claim")
      val m1 = manifest(root, "p=1\np=2")
      val m2 = manifest(root, "p=3")
      assert(b.claim(root, 1, m1))
      assert(!b.claim(root, 1, m2), "second claim of the same slot must lose")
      assert(f.markerContent(root, 1).contains("p=1\np=2"))
      assert(b.claim(root, 2, m2), "the next slot stays claimable")
    }

    test(s"${f.name}: racing threads: exactly one winner per slot") {
      val root = freshRoot("race")
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (1 to 16).map { i =>
        val m = manifest(root, s"writer-$i")
        new Thread(() => if (b.claim(root, 7, m)) { wins.incrementAndGet(); () })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(wins.get() == 1)
    }

    test(s"${f.name}: abortClaim frees the slot and is idempotent") {
      val root = freshRoot("abort")
      assert(b.claim(root, 1, manifest(root, "x")))
      b.abortClaim(root, 1)
      b.abortClaim(root, 1) // second abort: no-op, no throw
      assert(b.claim(root, 1, manifest(root, "y")), "aborted slot is reclaimable")
      assert(f.markerContent(root, 1).contains("y"))
    }

    test(s"${f.name}: advancePointer is monotonic: out-of-order publishes never move it back") {
      val root = freshRoot("ptr")
      assert(b.currentVersion(root) == 0)
      b.advancePointer(root, 3)
      assert(b.currentVersion(root) == 3)
      b.advancePointer(root, 2) // late out-of-claim-order publish
      assert(b.currentVersion(root) == 3, "pointer moved backward")
      b.advancePointer(root, 4)
      assert(b.currentVersion(root) == 4)
    }

    test(s"${f.name}: racing pointer advances settle at the maximum") {
      val root = freshRoot("ptr-race")
      val versions = scala.util.Random.shuffle((1 to 32).toVector)
      val threads = versions.map(v => new Thread(() => b.advancePointer(root, v)))
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(b.currentVersion(root) == 32)
    }

    test(s"${f.name}: publish makes staged files visible under v=N and consumes staging") {
      val root = freshRoot("pub")
      val staging = Files.createDirectories(Paths.get(root, "_staging", "s1"))
      Files.writeString(staging.resolve("part-0.parquet"), "data")
      b.publish(root, staging, 1)
      assert(f.publishedFile(root, 1, "part-0.parquet").contains("data"))
      assert(!Files.exists(staging))
    }

    test(s"${f.name}: publish carries binary (non-UTF-8) bodies byte-identically") {
      // Real staged snapshot files are parquet: magic bytes plus byte
      // sequences that are INVALID UTF-8 (0xFF/0xFE continuations). A
      // text-modeled store would throw or corrupt here; the contract
      // is byte fidelity, same as an S3/GCS PUT.
      val root = freshRoot("pub-bin")
      val staging = Files.createDirectories(Paths.get(root, "_staging", "sb"))
      val body: Array[Byte] =
        "PAR1".getBytes("US-ASCII") ++
          Array[Byte](0x00, 0xFF.toByte, 0xFE.toByte, 0x80.toByte, 0xC0.toByte) ++
          (0 until 256).map(_.toByte).toArray ++
          "PAR1".getBytes("US-ASCII")
      Files.write(staging.resolve("part-0.parquet"), body)
      b.publish(root, staging, 2)
      val got = f.publishedBytes(root, 2, "part-0.parquet")
      assert(got.isDefined, "binary object not published")
      assert(java.util.Arrays.equals(got.get, body),
        "published bytes differ from staged bytes")
      assert(!Files.exists(staging))
    }
  }

  test("object-store: generation CAS rejects stale writers (the 412 path)") {
    val store = new InMemoryObjectStore
    assert(store.putIfAbsent("t/_VERSION", "1"))
    val g1 = store.get("t/_VERSION").get.generation
    assert(store.putIfGeneration("t/_VERSION", "2", g1), "fresh generation wins")
    assert(!store.putIfGeneration("t/_VERSION", "9", g1),
      "stale generation must see the 412-equivalent")
    assert(store.get("t/_VERSION").get.text == "2")
    assert(!store.putIfAbsent("t/_VERSION", "9"), "create-only PUT on existing key loses")
  }
}
