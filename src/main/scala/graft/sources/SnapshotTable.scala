package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Versioned snapshots over plain parquet — time travel plus
  * OPTIMISTIC-CONCURRENCY commits, the two things a transactional
  * table format adds on top of ParquetDml's copy-on-write rewrites.
  *
  * Layout: `root/v=N/` holds version N's parquet; `root/_log/N` is
  * version N's commit marker (its content records the partitions the
  * commit touched); `root/_VERSION` is a one-line READER pointer to
  * the latest fully-committed N.
  *
  * Commit protocol (the same shape Delta's `_delta_log/N.json` CAS
  * uses, expressed on a filesystem):
  *   1. stage: write the new version's parquet COMPLETELY into a
  *      writer-unique `_staging/<uuid>` directory — no shared name,
  *      so concurrent writers never collide here. The touched-
  *      partition manifest is also written to a writer-unique temp
  *      file FIRST, so the claim step below is atomic WITH content;
  *   2. CAS: `Files.createLink(_log/N, manifestTmp)` with N = head+1.
  *      link(2) fails with EEXIST atomically, so exactly one writer
  *      wins version N — and because the marker is a hard link to the
  *      fully-written manifest, a marker is NEVER observable in a
  *      contentless state (a concurrent conflict check always reads
  *      the complete partition list, not a torn write). Losers get
  *      FileAlreadyExistsException and RETRY against the new head
  *      (after conflict-checking the commits that landed in between);
  *   3. publish: atomically rename the staging dir to `v=N` (the name
  *      is unreachable by readers until the pointer moves), then
  *      advance `_VERSION` MONOTONICALLY under an OS file lock
  *      (FileChannel.lock on `_VERSION.lock`): concurrent publishes
  *      may finish out of claim order, and a plain last-write-wins
  *      flip could move the reader pointer BACKWARD past an
  *      already-published version. On an object store the same step
  *      is a conditional PUT.
  * Steps 2-3's atomic operations (CAS claim, publish rename, pointer
  * advance, pointer read) are behind the [[CommitBackend]] trait —
  * the filesystem implementation is the one wired in; the
  * object-store mapping (conditional PUTs) is documented there as the
  * implementation contract for a cloud deployment.
  *
  * A reader either sees the old pointer (and the immutable old
  * directory) or the new one — never a half-written table. A writer
  * that crashes between CAS and publish leaves a complete marker with
  * no data directory: readers never see that version (the pointer
  * only moves on publish), later writers build on top of it, `read`
  * of it fails loudly as "never committed", and read-modify-write
  * writers conflict against its DECLARED partitions only — a dead
  * overlapping claim blocks its own partitions (conservative: the
  * checker cannot distinguish in-flight from dead), but never
  * disjoint writers.
  *
  * Conflict rule: a read-modify-write commit declares the snapshot
  * version it READ and the partition values it WRITES. If any commit
  * that landed after its read version touched an overlapping
  * partition (or either side is a full-table write), the writer's
  * inputs are stale — retrying would silently drop the other commit's
  * effect — so the commit aborts with [[SnapshotConflict]] and the
  * caller re-derives from the new snapshot. Disjoint-partition
  * writers rebase and retry automatically AT THE METADATA LEVEL —
  * but because a version directory is a COMPLETE snapshot, a raw
  * [[commit]] that rebases re-publishes its stale bytes for every
  * partition it did not touch, reverting the concurrent commit's
  * rows. Partition-sliced read-modify-write must therefore go
  * through [[commitPartitions]], which recomposes content against
  * the new head on every rebase; with it the layer honors the
  * serializable-unless-disjoint contract of Delta/Iceberg OCC
  * (SnapshotRaceFuzzSpec proves it under randomized races).
  *
  * Old versions are immutable after commit, so `read(version = n)` is
  * reproducible forever and a long-running job that resolved its
  * version keeps a consistent view while later commits land.
  *
  * At 100 TB: a snapshot commit costs only the NEW data written
  * (unchanged partitions of a copy-on-write rewrite can be hard-linked
  * or referenced, as the real formats do via the manifest); `vacuum`
  * bounds storage by dropping versions older than a retention floor.
  * The CAS is one metadata operation per commit regardless of data
  * size — on object stores the same step is a conditional PUT.
  *
  * Full surface on top of the commit protocol (each with its spec):
  * time travel (`read(version)`), manifest min/max data skipping
  * (`statsCols` → `readPruned`), value-set point-lookup skipping
  * (`setCols` → `readPoint`), log compaction (`compactLog`), batch +
  * streaming CDC (`changes`/`changesByKey`/`streamChanges`),
  * deletion vectors (`deleteWhere` — merge-on-read deletes over
  * hard-linked files), OPTIMIZE file compaction (`compactFiles`),
  * commit-time CHECK constraints (`addConstraint`), cross-table
  * transactions (`commitAll`/`recover`), and a streaming upsert sink
  * (streaming.SnapshotSink).
  */
object SnapshotTable {

  /** A read-modify-write commit lost to an overlapping concurrent
    * commit; the caller must re-read the new snapshot and re-derive.
    */
  final class SnapshotConflict(msg: String) extends RuntimeException(msg)

  /** Runs of a read-modify-write under [[retrying]] before its last
    * conflict propagates.
    */
  private val ConflictAttempts = 20

  /** Slot claims one commit takes before it gives up on the race
    * (casCommit, commitPartitions and commitAll's claim phase).
    */
  private[sources] val ClaimAttempts = 10

  /** The one conflict-retry policy of the snapshot writers: run the
    * read-modify-write `body`, and re-run it whenever it throws
    * [[SnapshotConflict]] — the body re-reads the new head and
    * re-derives, which is what the conflict asks for. After
    * [[ConflictAttempts]] runs the last conflict propagates; any
    * other exception passes through at once.
    *
    * Each re-run backs off `min(1000, 50 × attempt)` ms first: a
    * commit throws the conflict BEFORE any heavy work, so an
    * in-flight overlapping claim (a writer between claim and
    * publish) would otherwise burn every attempt in milliseconds and
    * kill a streaming query where a short wait succeeds.
    */
  private[graft] def retrying[T](body: => T): T = {
    def run(attempt: Int): T =
      try body
      catch {
        case _: SnapshotConflict if attempt < ConflictAttempts =>
          Thread.sleep(math.min(1000L, 50L * attempt))
          run(attempt + 1)
      }
    run(1)
  }

  /** Re-state the partitions of `partitionCol` that `df` carries (and
    * drop `dropValues`) as a read-modify-write of the current head,
    * under [[retrying]]: each attempt re-reads the head and
    * recomposes through [[commitPartitions]]. The streaming sinks'
    * partition-sliced commit. Returns the committed version.
    */
  private[graft] def restatePartitions(spark: SparkSession, root: String,
      df: DataFrame, partitionCol: String, statsCols: Seq[String] = Nil,
      dropValues: Seq[Any] = Nil): Int =
    retrying {
      val v = currentVersion(root)
      commitPartitions(spark, root, df, partitionCol,
        readVersion = if (v == 0) -1 else v, statsCols = statsCols,
        dropValues = dropValues)
    }

  private def logDir(root: String) = Paths.get(root, "_log")

  /** The DV machinery stamps `__file`/`__idx` helper columns and joins
    * against `__dv_file`/`__dv_idx`; a table whose OWN schema used one
    * of those names would be silently clobbered by withColumn and then
    * corrupted by the anti-join. Every commit entry point (commit,
    * commitPartitions) must reserve them at the gate.
    */
  private[sources] def requireNoReservedColumns(df: DataFrame): Unit = {
    val reserved = df.columns.toSet
      .intersect(Set("__file", "__idx", "__dv_file", "__dv_idx"))
    require(reserved.isEmpty,
      s"column name(s) ${reserved.mkString(", ")} are reserved for the " +
        "deletion-vector machinery; rename before committing")
  }

  /** Publish a claimed slot: the shared tail of every commit path. On
    * publish failure the claim is rolled back so the slot does not
    * poison future read-modify-write commits (another writer may have
    * taken next+1 meanwhile — markers need not stay contiguous,
    * headVersion is a max).
    */
  private def publishClaimed(root: String, staging: Path, next: Int): Int =
    try {
      backend.publish(root, staging, next)
      backend.advancePointer(root, next)
      Files.deleteIfExists(claimFile(staging))
      next
    } catch {
      case e: Throwable =>
        deleteTree(Paths.get(root, s"v=$next"))
        backend.abortClaim(root, next)
        discard(staging)
        throw e
    }
  private[sources] def markerFile(root: String, v: Int) = logDir(root).resolve(v.toString)

  // ---- staging: the one way a version is assembled -------------------
  //
  // Every write path assembles its version the same way. [[stage]]
  // mints a writer-unique `_staging/<uuid>` directory — no shared
  // name, so concurrent writers never collide — and the path fills it:
  // Spark writes new files, [[linkFrom]] hard-links a source version's
  // files, or both. [[writeManifests]] then writes its pruning
  // manifests by one rule. The conflict claim ([[claimFile]]) is
  // written last, so the CAS hard-links a marker that is born with
  // complete content. A failure anywhere leaves nothing behind.

  /** The conflict-claim file of `staging`: its touched-partition
    * manifest, which the CAS hard-links as the version's marker.
    */
  private[sources] def claimFile(staging: Path): Path =
    staging.resolveSibling(s"${staging.getFileName}.manifest")

  /** Mint a staging directory under `root/_staging`, fill it, and
    * write its claim `mine`. Returns the staging directory.
    */
  private[sources] def stage(root: String, mine: Set[String])(
      fill: Path => Unit): Path = {
    val staging = Paths.get(root, "_staging", java.util.UUID.randomUUID().toString)
    try {
      fill(staging)
      Files.writeString(claimFile(staging), mine.toSeq.sorted.mkString("\n"))
      staging
    } catch { case e: Throwable => discard(staging); throw e }
  }

  /** Delete an unpublished staging directory and its claim file. */
  private[sources] def discard(staging: Path): Unit = {
    deleteTree(staging); Files.deleteIfExists(claimFile(staging)); ()
  }

  /** Hard-link `files` of version directory `src` into `staging`
    * (metadata-only: same inode, no read, no write of their bytes).
    * `src`'s `_schema.json` is copied, not linked, so the staging path
    * may rewrite its own. Its `_dv` is linked only when every data file
    * is: a vector belongs to the whole file set, and a linked file
    * without it would resurrect deleted rows. Returns the linked names.
    */
  private[sources] def linkFrom(src: Path, staging: Path, files: Seq[String]): Set[String] = {
    Files.createDirectories(staging)
    files.foreach(f => Files.createLink(staging.resolve(f), src.resolve(f)))
    if (Files.exists(schemaFile(src))) Files.copy(schemaFile(src), schemaFile(staging))
    if (Files.exists(dvDir(src)) && files.size == listDataFiles(src).size) {
      Files.createDirectories(dvDir(staging))
      listDataFiles(dvDir(src)).foreach(f =>
        Files.createLink(dvDir(staging).resolve(f), dvDir(src).resolve(f)))
    }
    files.toSet
  }

  /** The stale-read check every commit path shares: a read-modify-write
    * (`readVersion >= 0`) aborts with [[SnapshotConflict]] when any
    * version after its read, up to `head`, touched a partition that
    * overlaps `mine` — its inputs are stale, and retrying would drop
    * that commit's effect. A blind write never conflicts.
    */
  private[sources] def checkStale(root: String, readVersion: Int, head: Int,
      mine: Set[String], writer: String): Unit =
    if (readVersion >= 0)
      ((readVersion + 1) to head).find(v => overlaps(mine, touched(root, v)))
        .foreach { v =>
          throw new SnapshotConflict(
            s"$writer based on v$readVersion conflicts with v$v " +
              "(overlapping partitions); re-read and re-derive")
        }

  /** The storage seam: every atomic metadata operation of the commit
    * protocol (CAS claim, publish, pointer advance, pointer read) goes
    * through [[CommitBackend]]; the rest of this object is portable
    * protocol logic. See CommitBackend's doc for the object-store
    * implementation contract.
    */
  private[sources] val backend: CommitBackend = FilesystemCommitBackend

  /** Latest committed version VISIBLE TO READERS, 0 if none. */
  def currentVersion(root: String): Int = backend.currentVersion(root)

  /** Latest version any writer has claimed (>= currentVersion):
    * markers exist the instant the CAS lands, before publish. After a
    * log compaction the checkpoint carries the folded-away range.
    */
  private[sources] def headVersion(root: String): Int = {
    val ld = logDir(root)
    val maxMarker = if (Files.isDirectory(ld)) {
      val s = Files.list(ld)
      try s.iterator().asScala
        .flatMap(p => p.getFileName.toString.toIntOption).maxOption.getOrElse(0)
      finally s.close()
    } else 0
    val ckptMax = checkpointed(root).keys.maxOption.getOrElse(0)
    // pre-_log tables: pointer only
    math.max(math.max(maxMarker, ckptMax), currentVersion(root))
  }

  // ---- log compaction ----------------------------------------------
  //
  // One marker file per commit is fine for thousands of commits; a
  // 100 TB table committing every few minutes for a year accumulates
  // ~10⁵ markers, and every headVersion() pays that directory
  // listing. `compactLog` folds all markers into one `_checkpoint`
  // file (version → declared partitions, same format markers use,
  // prefixed with the version number) and deletes the folded markers
  // — exactly Delta's N.checkpoint.parquet move. Ordering makes it
  // safe next to live writers: the checkpoint is staged and
  // atomically renamed BEFORE any marker is deleted, markers are
  // immutable once created, and readers consult marker-first then
  // checkpoint — so a version is always answerable from at least one
  // of the two, and the CAS slot for NEW versions (createLink on
  // `_log/N`) is untouched: a marker is only deleted after its
  // content is durable in the checkpoint, and claimed-but-unpublished
  // versions above the pointer are left alone so their rollback path
  // (delete own marker) stays valid.

  private def checkpointFile(root: String) = logDir(root).resolve("_checkpoint")

  /** version → declared partitions folded by past compactions. */
  private def checkpointed(root: String): Map[Int, Set[String]] = {
    val f = checkpointFile(root)
    if (!Files.exists(f)) Map.empty
    else Files.readString(f).linesIterator.flatMap { line =>
      line.split('\t') match {
        case Array(v, parts @ _*) if v.toIntOption.isDefined =>
          Some(v.toInt -> (if (parts.isEmpty) Set("*") else parts.toSet))
        case _ => None
      }
    }.toMap
  }

  /** Fold committed markers into `_checkpoint` and delete them.
    * Markers above the reader pointer are NOT folded: they may be
    * claims of in-flight writers whose failure path deletes their own
    * marker — folding those would make a crashed claim permanent.
    * Returns the number of markers folded away.
    */
  def compactLog(root: String): Int = {
    val cur = currentVersion(root)
    val ld = logDir(root)
    if (!Files.isDirectory(ld)) return 0
    val foldable = {
      val s = Files.list(ld)
      try s.iterator().asScala
        .flatMap(p => p.getFileName.toString.toIntOption)
        .filter(_ <= cur).toVector.sorted
      finally s.close()
    }
    if (foldable.isEmpty) return 0
    val merged = checkpointed(root) ++
      foldable.map(v => v -> touched(root, v)).toMap
    val body = merged.toSeq.sortBy(_._1).map { case (v, parts) =>
      (v.toString +: parts.toSeq.sorted).mkString("\t")
    }.mkString("", "\n", "\n")
    val tmp = ld.resolve(s"_checkpoint.tmp.${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, body)
    Files.move(tmp, checkpointFile(root), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // only now is it safe to drop the folded markers
    foldable.foreach(v => Files.deleteIfExists(markerFile(root, v)))
    foldable.size
  }

  /** Partitions version `v` declared touching; `Set("*")` = full table.
    * Markers are hard-linked from a fully-written manifest, so an
    * existing marker always carries complete content; a marker folded
    * into the log checkpoint answers from there; a version known to
    * neither (pre-_log table history) reads as full — the
    * conservative answer.
    */
  private[sources] def touched(root: String, v: Int): Set[String] = {
    val m = markerFile(root, v)
    val fromMarker =
      try {
        val body = Files.readString(m).trim
        Some(if (body.isEmpty) Set("*") else body.linesIterator.toSet)
      } catch {
        // deleted by a concurrent compaction between listing and read —
        // its content is durable in the checkpoint by ordering
        case _: java.nio.file.NoSuchFileException => None
        case _: java.io.FileNotFoundException => None
      }
    fromMarker.orElse(checkpointed(root).get(v)).getOrElse(Set("*"))
  }

  /** Advance the reader pointer to `next` unless a concurrent publish
    * already moved it past: out-of-claim-order publishes must never
    * move `_VERSION` backward (monotonic CAS, see CommitBackend).
    */
  private[sources] def advancePointer(root: String, next: Int): Unit =
    backend.advancePointer(root, next)

  private[sources] def overlaps(a: Set[String], b: Set[String]): Boolean =
    a.contains("*") || b.contains("*") || (a & b).nonEmpty

  /** Commit `df` as the next version via optimistic concurrency.
    *
    * `df` is the COMPLETE next table content. Declared `partitions`
    * only scope the conflict CHECK — they do not slice the data — so
    * a read-modify-write caller that passes them must accept that a
    * disjoint-rebase re-publishes its own (possibly stale) bytes for
    * the partitions it did not touch. For partition-sliced
    * concurrent writers use [[commitPartitions]], which recomposes
    * content on rebase instead.
    *
    * The new version keeps the table's pruning manifests: it records
    * the columns the current version does (that `df` still has), plus
    * `statsCols`, `setCols` and `bloomCols` (see [[writeManifests]]).
    *
    * @param partitions  partition values this commit rewrites; empty
    *                    means "whole table" (blind overwrite)
    * @param readVersion the snapshot version the caller derived `df`
    *                    from; -1 (default) = blind write, which never
    *                    conflicts and only rebases
    * @return the committed version
    */
  def commit(spark: SparkSession, root: String, df: DataFrame,
      partitions: Seq[String] = Nil, readVersion: Int = -1,
      statsCols: Seq[String] = Nil,
      setCols: Seq[String] = Nil, setCap: Int = 1024,
      bloomCols: Seq[String] = Nil): Int = {
    Files.createDirectories(logDir(root))
    requireNoReservedColumns(df)
    // escapeVal makes the newline-framed manifest injective: a
    // partition token carrying a newline must not split into bogus
    // entries that defeat a concurrent writer's overlap check (same
    // framing rule as the stats/sets manifests). Escaping happens on
    // BOTH the in-memory set and the written manifest, so overlaps()
    // always compares like with like.
    val mine: Set[String] =
      if (partitions.isEmpty) Set("*") else partitions.map(escapeVal).toSet
    // Stage once — the expensive (data-sized) step happens exactly one
    // time no matter how many CAS retries the (metadata-sized) loop
    // takes.
    val base = currentVersion(root)
    val staging = stage(root, mine) { s =>
      df.write.mode("overwrite").parquet(s.toString)
      writeSchemaSidecar(s, df.schema)
      validateConstraints(spark, root, s)
      writeManifests(spark, s, baseDir(root, base), Set.empty,
        statsCols, setCols, setCap, bloomCols)
    }
    val committed = casCommit(root, staging, mine, readVersion)
    // enrolled routing stats refresh AFTER publish (advisory — a stats
    // failure stales the scalar, never the commit); no-op one dir
    // check for non-enrolled tables. Full-content commit → recompute
    // (one counts aggregate, same order as the write just paid).
    TableStats.maintainFull(spark, root, committed)
    committed
  }

  /** The metadata half of [[commit]] — CAS-claim a version for an
    * already-staged directory and publish it. Shared by commit,
    * [[deleteWhere]] and [[restore]], which stage differently (Spark
    * write vs hard-links) but follow one commit protocol.
    */
  private def casCommit(root: String, staging: Path, mine: Set[String],
      readVersion: Int): Int = {
    var attempt = 0
    try {
      while (true) {
        val base = headVersion(root)
        // Conflict check BEFORE claiming a version
        checkStale(root, readVersion, base, mine, "commit")
        // We own version base + 1 exclusively once the claim lands.
        if (backend.claim(root, base + 1, claimFile(staging)))
          return publishClaimed(root, staging, base + 1)
        attempt += 1
        if (attempt >= ClaimAttempts)
          throw new SnapshotConflict(
            s"lost the commit race $ClaimAttempts times at $root; giving up")
        // loop: re-read head, re-check conflicts, next slot
      }
      -1 // unreachable
    } catch { case e: SnapshotConflict => discard(staging); throw e }
  }

  // ---- partition-sliced fast path: the file↔partition map ----------
  //
  // `_partmap` records, for a version written entirely through
  // [[commitPartitions]], which single partition token each data file
  // holds (newline-framed `escapeVal(file)\t<token>` lines; tokens are
  // the already-escaped manifest tokens). With it, composing the next
  // partition-sliced version is METADATA-SIZED for the untouched
  // partitions: their files are hard-linked (same inode — no read, no
  // write), and only the slice's rows are written. The map exists only
  // while every data file is single-partition:
  //  - born when commitPartitions CREATES the table (the slice is
  //    written one partition value at a time);
  //  - carried by every fast-path commit (linked files keep their
  //    token, new files take the slice's) and copied by RESTORE (it
  //    links every file of the restored version);
  //  - absent after any flat write (raw commit, mergeByKey, the
  //    slow-path compose), OPTIMIZE (files rewritten), a
  //    deletion-vector DELETE or an APPEND (files linked without a
  //    map), and IGNORED when the prior version carries a deletion
  //    vector — linking a file without its DV would resurrect deleted
  //    rows — all of which fall back to the always-correct full
  //    compose.
  private def partmapFile(dir: Path) = dir.resolve("_partmap")
  private val maxPartmapValues = 64

  /** The prior version's file→token map, or None when absent, when it
    * was built on a different partition column (the header line
    * records the exact column — token prefixes are ambiguous when a
    * column name contains '='), or when it does not cover exactly the
    * data files present (a torn or foreign layout must disable the
    * fast path, never corrupt it).
    */
  private def readPartmap(dir: Path,
      partitionCol: String): Option[Map[String, String]] = {
    if (!Files.exists(partmapFile(dir))) return None
    val lines = Files.readString(partmapFile(dir)).linesIterator
      .filter(_.nonEmpty).toSeq
    val colOk = lines.headOption.exists(_ ==
      s"#col\t${escapeVal(partitionCol)}")
    if (!colOk) return None
    val m = lines.tail.map { l =>
      val i = l.indexOf('\t')
      unescapeVal(l.take(i)) -> l.drop(i + 1)
    }.toMap
    if (m.keySet == listDataFiles(dir).toSet) Some(m) else None
  }

  private def writePartmap(staging: Path, partitionCol: String,
      entries: Map[String, String]): Unit = {
    Files.writeString(partmapFile(staging),
      (s"#col\t${escapeVal(partitionCol)}" +:
        entries.toSeq.sorted.map { case (f, t) => s"${escapeVal(f)}\t$t" })
        .mkString("\n"))
    ()
  }

  private[sources] def listDataFiles(dir: Path): Vector[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) && {
      val n = p.getFileName.toString
      !n.startsWith("_") && !n.startsWith(".")
    }).map(_.getFileName.toString).toVector
    finally s.close()
  }

  /** Write each partition value's slice rows as that value's own
    * files: one write job per value into a value-private temp subdir
    * (dot-prefixed — invisible to readers even if leaked), files then
    * moved into the staging root. The subdir is what makes file→token
    * attribution exact AND lets the jobs run CONCURRENTLY (Spark
    * schedules parallel jobs from one session; an append-into-shared-
    * dir design could do neither). Returns the partmap entries.
    */
  private def writeSlicePerValue(df: DataFrame, partitionCol: String,
      vals: Seq[Any], staging: Path): Map[String, String] =
    // materialize the slice ONCE: each per-value job filters the
    // pinned blocks instead of re-running the slice's whole lineage
    // (an expensive upstream query would otherwise execute up to
    // |vals| times)
    if (vals.length > 1) graft.Artifacts.pinned(df, eager = false)(
      writeValues(_, partitionCol, vals, staging))
    else writeValues(df, partitionCol, vals, staging)

  private def writeValues(src: DataFrame, partitionCol: String,
      vals: Seq[Any], staging: Path): Map[String, String] = {
    import org.apache.spark.sql.functions.{col, lit}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val sc = src.sparkSession.sparkContext
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, math.max(1, vals.length)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // Failure protocol: fail fast, but never hand the caller's
    // cleanup() a staging dir that sibling writes are still streaming
    // into (deleteTree racing live writers throws
    // DirectoryNotEmptyException, masking the real failure, or leaks
    // a half-deleted data-sized _staging). On the first error we
    // (a) flip `aborted` so queued-not-yet-started slices become
    // no-ops, (b) cancel the job group so RUNNING slice jobs die
    // (pool.shutdownNow only interrupts pool threads — the Spark jobs
    // they submitted would keep writing), then (c) await EVERY
    // future's completion before rethrowing, so by the time the
    // caller sees the exception nothing is writing into staging.
    val groupId = s"graft-slice-${java.util.UUID.randomUUID()}"
    @volatile var aborted = false
    val futs = vals.map { v =>
      Future {
        if (aborted) throw new IllegalStateException("sibling slice failed")
        sc.setJobGroup(groupId, s"slice $partitionCol=$v",
          interruptOnCancel = true)
        try {
          val sub = staging.resolve(s".slice-${java.util.UUID.randomUUID()}")
          src.filter(col(partitionCol) <=> lit(v))
            .write.mode("overwrite").parquet(sub.toString)
          val tok = escapeVal(s"$partitionCol=${tokenRender(v)}")
          val moved = listDataFiles(sub).map { f =>
            Files.move(sub.resolve(f), staging.resolve(f))
            f -> tok
          }
          deleteTree(sub)
          moved
        } finally sc.clearJobGroup()
      }
    }
    try Await.result(Future.sequence(futs), Duration.Inf).flatten.toMap
    catch {
      case e: Throwable =>
        aborted = true
        sc.cancelJobGroup(groupId)
        futs.foreach { f =>
          try { Await.ready(f, Duration.Inf); () }
          catch { case _: Throwable => () }
        }
        throw e
    } finally pool.shutdown()
  }

  /** Partition-sliced read-modify-write commit — the SOUND concurrent
    * writer API for partitioned tables. `df` holds ONLY the new rows
    * of the partitions it rewrites (every distinct `partitionCol`
    * value in `df` is a rewritten partition); the committed version's
    * content is composed here as (published head minus those
    * partitions) ∪ `df`, and a lost CAS recomposes against the NEW
    * head before retrying — so a concurrent disjoint-partition
    * writer's rows are re-read and carried, never clobbered.
    *
    * This is the fix for the lost-update hazard of calling [[commit]]
    * with declared partitions directly: there the caller stages the
    * FULL table as read at `readVersion`, so a disjoint writer that
    * rebases (new version number, same stale bytes) silently reverts
    * every partition the concurrent commit touched. Here the rebase
    * recomposes content, which is what "rebase" must mean when a
    * version is a complete snapshot.
    *
    * Serialization contract (matches Delta/Iceberg OCC):
    *  - overlapping-partition writers: loser aborts with
    *    [[SnapshotConflict]] (stale inputs — re-read and re-derive);
    *  - disjoint-partition writers: both land, both updates survive;
    *  - a concurrent BLIND full-table write (`commit` with no
    *    readVersion) either conflicts us (its `*` claim is visible) or
    *    publishes after our claim, in which case its full overwrite is
    *    the valid later serialization.
    *
    * Claims here are taken CONTIGUOUSLY (exactly published-head + 1,
    * never skipping an in-flight claim), because composition can only
    * read published data: skipping would publish a version that lacks
    * the in-flight writer's rows. A dead writer's orphan claim at
    * head+1 therefore blocks this path for [[ClaimAttempts]] claims (the
    * conservative trade documented on the class; recover by
    * [[abortClaim]]-ing the orphan after forensics).
    *
    * Cost: when the prior version carries a `_partmap` (tables written
    * entirely through this API), composition is the FAST PATH —
    * untouched partitions' files are hard-linked and only the slice's
    * rows are written, so a commit against a 100 TB table costs the
    * touched data plus |files| link syscalls. Otherwise (table born
    * from a flat commit, a deletion vector present, or a
    * pathologically wide slice) composition is one data-sized stage.
    * Either way a retry against a MOVED head pays a recomposition
    * (that IS the rebase); a retry against an unmoved head (in-flight
    * claim ahead) only waits.
    */
  /** @param dropValues additional partition values ATOMICALLY REMOVED
    *        in the same committed version (no window where old and new
    *        rows coexist) — the partition-DROP primitive an LSM-style
    *        OPTIMIZE needs (rewrite sealed slices into consolidated
    *        partitions AND drop the originals in one version; see
    *        BandHistory.optimize). Must be disjoint from `df`'s own
    *        partition values. On the partmap fast path dropped
    *        partitions' files are simply not linked forward; on the
    *        slow path they are filtered out of the composed content.
    */
  /** Distinct slice values, token-safety, and conflict-manifest tokens
    * for a partition-sliced commit — the shared preamble of
    * [[commitPartitions]] and sliced [[TableWrite]]s in
    * [[SnapshotTransaction.commitAll]].
    *
    * Distinct partition values are metadata-sized by the
    * partitioned-table contract (|partitions| ≪ |rows|). Partition
    * tokens are built from value.toString, which is only VALUE-BASED
    * for the listed types: a BinaryType value would tokenize as its
    * identity hash (different every run → the same partition gets two
    * tokens → kept-files filter misses → duplicated rows), and
    * java.sql.Timestamp/Date render through the JVM default timezone
    * (unstable across writers). Unsafe types: no tokens — the conflict
    * manifest degrades to the conservative full-table `*` and
    * composition takes the value-correct slow path. Tokens are
    * whole-token escaped (same framing rule as commit(): a value
    * carrying a newline must not split the manifest into bogus entries
    * that defeat a concurrent writer's overlap check), and dropped
    * partitions are claimed exactly like rewritten ones — a concurrent
    * writer of a dropped partition must conflict.
    */
  private[sources] def slicePreamble(df: DataFrame, partitionCol: String,
      dropValues: Seq[Any]): (Seq[Any], Boolean, Set[String]) = {
    require(df.columns.contains(partitionCol),
      s"partition column $partitionCol missing from ${df.columns.mkString(",")}")
    val vals = df.select(partitionCol).distinct().collect().map(_.get(0)).toSeq
    require(vals.nonEmpty, "partition-sliced commit carries no rows")
    require(!vals.contains(null),
      s"null $partitionCol values cannot address a partition")
    require(!dropValues.contains(null),
      s"null $partitionCol values cannot address a dropped partition")
    require(dropValues.intersect(vals).isEmpty,
      s"dropValues overlap the slice's own partition values: " +
        dropValues.intersect(vals).mkString(","))
    val tokenSafe = df.schema(partitionCol).dataType match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.BooleanType |
           org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType => true
      case _: org.apache.spark.sql.types.DecimalType => true
      case _ => false
    }
    val mine: Set[String] =
      if (tokenSafe) (vals ++ dropValues)
        .map(v => escapeVal(s"$partitionCol=${tokenRender(v)}")).toSet
      else Set("*")
    (vals, tokenSafe, mine)
  }

  /** Compose a partition-sliced staging directory against PUBLISHED
    * version `base` — the [[stage]] fill shared by [[commitPartitions]]
    * and sliced [[TableWrite]]s in [[SnapshotTransaction.commitAll]].
    */
  private[sources] def composeSliceStaging(spark: SparkSession, root: String,
      df: DataFrame, partitionCol: String, vals: Seq[Any],
      dropValues: Seq[Any], tokenSafe: Boolean, mine: Set[String],
      base: Int, staging: Path, statsCols: Seq[String],
      setCols: Seq[String], setCap: Int,
      bloomCols: Seq[String]): Unit = {
    val linked: Set[String] = if (base == 0) {
      require(dropValues.isEmpty,
        "dropValues on a CREATE commit: nothing exists to drop")
      // CREATE: write one partition value at a time so the version
      // is born with a `_partmap` and every later slice commit can
      // take the file-link fast path (capped — a pathological
      // first slice with hundreds of values, or a token-unsafe
      // partition type, stays a flat write)
      Files.createDirectories(staging)
      if (tokenSafe && vals.length <= maxPartmapValues)
        writePartmap(staging, partitionCol,
          writeSlicePerValue(df, partitionCol, vals, staging))
      else df.write.mode("overwrite").parquet(staging.toString)
      writeSchemaSidecar(staging, df.schema)
      Set.empty
    } else {
      val prior = read(spark, root, base)
      // names AND types must match exactly: a name-only check
      // would let unionByName silently widen the table's column
      // type table-wide on compose (a LONG column fed a DOUBLE
      // slice flips every row to DOUBLE) — the same-name type
      // flip mergeByKey's store-assignment guards exist to block
      val priorTypes = prior.schema.fields
        .map(f => f.name -> f.dataType).toMap
      val sliceTypes = df.schema.fields
        .map(f => f.name -> f.dataType).toMap
      require(priorTypes == sliceTypes,
        s"schema mismatch: table has ${prior.schema.simpleString}, " +
          s"slice has ${df.schema.simpleString} (same names AND types " +
          "required; evolve via mergeByKey)")
      val aligned = df.select(prior.columns.map(
        org.apache.spark.sql.functions.col): _*)
      val priorDir = Paths.get(root, s"v=$base")
      // the map is only usable when it was built on the SAME
      // partition column (its header records the exact column —
      // a token-prefix test would be fooled by a column name
      // containing '='): tokens for another column would never
      // match `mine`, every file would be "kept", and the slice's
      // rows would duplicate instead of replace. A column switch
      // (legal, if odd) takes the slow compose, which filters on
      // values and stays correct.
      val priorMap = readPartmap(priorDir, partitionCol)
        .filter(_ => !Files.exists(dvDir(priorDir)))
      priorMap match {
        case Some(pm) if tokenSafe && vals.length <= maxPartmapValues =>
          // FAST PATH: untouched partitions' files are hard-linked
          // (metadata-only — no read, no write of their bytes);
          // only the slice's rows are written. Commit cost is
          // ∝ touched data + |files| link syscalls, not table size
          // — the file-granularity economics the real formats get
          // from their manifests.
          val keep = pm.filter { case (_, tok) => !mine.contains(tok) }
          val linked = linkFrom(priorDir, staging, keep.keys.toSeq)
          val fresh = writeSlicePerValue(aligned, partitionCol, vals, staging)
          writePartmap(staging, partitionCol, keep ++ fresh)
          // schema sidecar in the table's (prior) column order —
          // zero-job reads of the new version and of the manifest pass
          writeSchemaSidecar(staging, aligned.schema)
          linked
        case _ =>
          // SLOW PATH (no partmap / DV present / token-unsafe
          // type / too many values): full compose stays correct,
          // flat files, no partmap.
          // coalesce(…, false): a NULL partition value in the
          // prior table is unaddressable by a slice and survives
          val replaced = org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.col(partitionCol)
              .isin(vals ++ dropValues: _*),
            org.apache.spark.sql.functions.lit(false))
          prior.filter(!replaced).unionByName(aligned)
            .write.mode("overwrite").parquet(staging.toString)
          writeSchemaSidecar(staging, aligned.schema)
          Set.empty
      }
    }
    validateConstraints(spark, root, staging)
    writeManifests(spark, staging, baseDir(root, base), linked,
      statsCols, setCols, setCap, bloomCols)
  }

  def commitPartitions(spark: SparkSession, root: String, df: DataFrame,
      partitionCol: String, readVersion: Int = -1,
      statsCols: Seq[String] = Nil,
      setCols: Seq[String] = Nil, setCap: Int = 1024,
      dropValues: Seq[Any] = Nil,
      bloomCols: Seq[String] = Nil): Int = {
    Files.createDirectories(logDir(root))
    requireNoReservedColumns(df)
    val (vals, tokenSafe, mine) = slicePreamble(df, partitionCol, dropValues)
    var composedBase = -1 // version the current staging was composed against
    var staging: Path = null
    def cleanup(): Unit = if (staging != null) discard(staging)
    var committed = -1
    var attempt = 0
    try {
      while (committed < 0) {
        if (attempt >= ClaimAttempts)
          throw new SnapshotConflict(
            s"lost the commit race $ClaimAttempts times at $root; giving up")
        val base = currentVersion(root) // compose against PUBLISHED data only
        // conflict check spans CLAIMED head: an in-flight overlapping
        // claim already invalidates our inputs (conservative, same rule
        // as casCommit)
        checkStale(root, readVersion, headVersion(root), mine, "commit")
        if (base != composedBase) {
          cleanup()
          staging = stage(root, mine)(composeSliceStaging(spark, root, df,
            partitionCol, vals, dropValues, tokenSafe, mine, base, _,
            statsCols, setCols, setCap, bloomCols))
          composedBase = base
        }
        // contiguous claim: exactly composedBase + 1
        if (backend.claim(root, composedBase + 1, claimFile(staging)))
          committed = publishClaimed(root, staging, composedBase + 1)
        else {
          attempt += 1
          // head unmoved means an in-flight claim owns next: wait, don't
          // restage; a moved head recomposes on the next loop pass
          if (currentVersion(root) == composedBase) Thread.sleep(50L * attempt)
        }
      }
    } catch { case e: SnapshotConflict => cleanup(); throw e }
    // enrolled routing stats: fold the slice's counts in and the
    // replaced partitions' old counts out — the prior version's
    // partmap names the replaced files exactly, so the old-slice
    // read is ∝ touched data (never a table scan) on the fast
    // path; the DV/token-unsafe fallback filters the prior
    // version the same way the slow compose does. Advisory: runs
    // after publish, failures only stale the scalar.
    if (TableStats.hasEnrollments(root)) {
      val priorDir = Paths.get(root, s"v=$composedBase")
      val oldSlice =
        if (composedBase == 0) None
        else readPartmap(priorDir, partitionCol)
          .filter(_ => tokenSafe && !Files.exists(dvDir(priorDir))) match {
          case Some(pm) =>
            val replacedFiles = pm.collect {
              case (f, tok) if mine.contains(tok) =>
                priorDir.resolve(f).toString
            }.toSeq
            if (replacedFiles.isEmpty) None
            else Some(sidecarReader(spark, priorDir).parquet(replacedFiles: _*))
          case None =>
            val replaced = org.apache.spark.sql.functions.coalesce(
              org.apache.spark.sql.functions.col(partitionCol)
                .isin(vals ++ dropValues: _*),
              org.apache.spark.sql.functions.lit(false))
            Some(read(spark, root, composedBase).filter(replaced))
        }
      TableStats.maintainPartitionOverwrite(spark, root, committed,
        df, oldSlice)
    }
    committed
  }

  // ---- schema sidecar: zero-job cold reads ---------------------------
  //
  // Without a declared schema, spark.read.parquet infers it by reading
  // footers in a SPARK JOB — the real table formats store the schema
  // in commit metadata precisely so a cold read is metadata-only.
  // Every staged version records its schema (all-nullable: the
  // conservative read form — linked files from earlier versions may
  // differ in nullability) as `_schema.json`; read() declares it so a
  // snapshot read plans with ZERO jobs. Tables without the sidecar
  // (pre-r15 history) fall back to inference.

  private[sources] def schemaFile(dir: Path) = dir.resolve("_schema.json")

  private[sources] def writeSchemaSidecar(staging: Path,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val nullable = org.apache.spark.sql.types.StructType(
      schema.fields.map(_.copy(nullable = true)))
    Files.writeString(schemaFile(staging), nullable.json); ()
  }

  /** `dir`'s declared schema, if it records one. */
  private def sidecarSchema(
      dir: Path): Option[org.apache.spark.sql.types.StructType] =
    Option.when(Files.exists(schemaFile(dir)))(
      org.apache.spark.sql.types.DataType.fromJson(Files.readString(schemaFile(dir)))
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** A reader of `dir`'s files that declares its `_schema.json`
    * (inference, a Spark job, only when the sidecar is absent). Every
    * read of a version or staging directory goes through it.
    */
  private[sources] def sidecarReader(spark: SparkSession,
      dir: Path): org.apache.spark.sql.DataFrameReader =
    sidecarSchema(dir).fold(spark.read)(spark.read.schema(_))

  /** The directory of published version `base`, none before the first. */
  private[sources] def baseDir(root: String, base: Int): Option[Path] =
    Option.when(base > 0)(Paths.get(root, s"v=$base"))

  /** `version`, or the published head when `version <= 0`; either
    * way it must be committed: an orphan marker/directory from a
    * crashed writer can exist ABOVE the pointer, and reading it would
    * surface uncommitted data.
    */
  private def committedVersion(root: String, version: Int): Int = {
    val cur = currentVersion(root)
    val v = if (version > 0) version else cur
    require(v > 0, s"no committed version at $root")
    require(v <= cur, s"version $v is not committed (latest is $cur)")
    v
  }

  /** Read the latest snapshot (default) or time-travel to `version`. */
  def read(spark: SparkSession, root: String, version: Int = -1): DataFrame = {
    val v = committedVersion(root, version)
    val dir = Paths.get(root, s"v=$v")
    require(Files.exists(dir),
      s"version $v does not exist (vacuumed or never committed)")
    applyDv(spark, dir, sidecarReader(spark, dir).parquet(dir.toString))
  }

  // ---- deletion vectors (row-level delete without rewrite) ---------
  //
  // A copy-on-write delete (ParquetDml.delete) rewrites every file
  // that holds a matching row — at 100 TB, deleting 0.1% of rows can
  // rewrite 100% of the bytes. Deletion vectors are the merge-on-read
  // alternative the real formats added (Delta DVs / Iceberg position
  // deletes): the commit records only WHICH rows died, as
  // (file, row_index) pairs, and readers subtract them. Here:
  //
  //  - the new version's data files are HARD LINKS to the previous
  //    version's (same inode, metadata-only cost — the filesystem
  //    stand-in for a manifest that re-references unchanged files;
  //    vacuum of either version just unlinks names);
  //  - the cumulative vector lives in `_dv/` parquet INSIDE the
  //    version directory — underscore-prefixed, so plain readers
  //    never list it, and it publishes atomically with the rename;
  //  - row identity is (_metadata.file_name, _metadata.row_index) —
  //    stable because data files are immutable and keep their names
  //    across link-only commits;
  //  - [[read]] and [[readPruned]] subtract the vector with a
  //    broadcast anti-join (|DV| ∝ deleted rows, not table size);
  //  - a later full [[commit]] writes fresh files and no `_dv`, and
  //    [[compactFiles]] materializes the subtraction — both end the
  //    merge-on-read debt, exactly like OPTIMIZE on the real formats.
  private[sources] def dvDir(dir: Path) = dir.resolve("_dv")

  private val dvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("__dv_file",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("__dv_idx",
      org.apache.spark.sql.types.LongType)))

  /** The version's cumulative deletion vector (columns `__dv_file`,
    * `__dv_idx`), empty when the version carries none.
    */
  def deletionVectors(spark: SparkSession, root: String,
      version: Int = -1): DataFrame =
    dvRead(spark, Paths.get(root, s"v=${committedVersion(root, version)}"))

  // the files inside `_dv`, not the directory: Spark's listing treats
  // an underscore-named root as hidden (it warns, then reads it anyway)
  private def dvRead(spark: SparkSession, dir: Path): DataFrame = {
    val files =
      if (Files.exists(dvDir(dir))) listDataFiles(dvDir(dir)) else Vector.empty
    if (files.nonEmpty)
      spark.read.schema(dvSchema).parquet(files.map(dvDir(dir).resolve(_).toString): _*)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        dvSchema)
  }

  private def applyDv(spark: SparkSession, dir: Path, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    if (!Files.exists(dvDir(dir))) df
    else {
      val dv = dvRead(spark, dir)
      df.withColumn("__file", col("_metadata.file_name"))
        .withColumn("__idx", col("_metadata.row_index"))
        .join(broadcast(dv),
          col("__file") === col("__dv_file") && col("__idx") === col("__dv_idx"),
          "left_anti")
        .drop("__file", "__idx")
    }
  }

  /** Row-level DELETE as a deletion-vector commit: no data file is
    * read for rewrite or written — the new version hard-links every
    * previous data file and adds the matching (file, row) pairs to
    * the cumulative `_dv`. Conflict-checked as a full-table
    * read-modify-write against the version the predicate was
    * evaluated on. Returns the new version.
    */
  def deleteWhere(spark: SparkSession, root: String, predicate: String): Int = {
    import org.apache.spark.sql.functions.{col, expr}
    val cur = currentVersion(root)
    require(cur > 0, s"no committed version at $root")
    val srcDir = Paths.get(root, s"v=$cur")
    val withMeta = sidecarReader(spark, srcDir).parquet(srcDir.toString)
      .withColumn("__file", col("_metadata.file_name"))
      .withColumn("__idx", col("_metadata.row_index"))
    // evaluate the predicate on LIVE rows only (already-deleted rows
    // must not re-enter the vector as duplicates)
    val live = withMeta.join(dvRead(spark, srcDir),
      col("__file") === col("__dv_file") && col("__idx") === col("__dv_idx"),
      "left_anti")
    val newDv = live.filter(expr(predicate))
      .select(col("__file").as("__dv_file"), col("__idx").as("__dv_idx"))
    val staging = stage(root, Set("*")) { s =>
      // every file is linked, and with them the prior vector; the new
      // deletes join it as files of their own (a Spark job over src —
      // it reads nothing from staging). The manifests stay valid: the
      // files are unchanged, and a deleted row only leaves a range or
      // a set wider than it must be, which pruning treats as a keep.
      val linked = linkFrom(srcDir, s, listDataFiles(srcDir))
      newDv.write.mode("append").parquet(dvDir(s).toString)
      writeManifests(spark, s, Some(srcDir), linked, Nil, Nil, 1024, Nil)
    }
    val committed = casCommit(root, staging, Set("*"), cur)
    TableStats.maintainFull(spark, root, committed) // enrolled stats (advisory)
    committed
  }

  // ---- MERGE (batch upsert) ----------------------------------------

  /** MERGE INTO for snapshot tables: rows whose key appears in
    * `source` are replaced by the source row (matched → update),
    * unmatched source rows are inserted, everything else is carried
    * forward — the batch twin of streaming.SnapshotSink's per-batch
    * merge, exposed as a first-class table op. The caller guarantees
    * `source` has one row per key (the standard MERGE cardinality
    * contract; enforced here because a violation would silently
    * duplicate rows). Committed as a read-modify-write of the
    * version merged against; concurrent overlapping commits abort
    * with [[SnapshotConflict]] for the caller to retry.
    *
    * At 100 TB the anti-join's right side is the source key set —
    * batch-sized, broadcastable; with the table bucketed on the key
    * the merge is shuffle-free.
    */
  def mergeByKey(spark: SparkSession, root: String, source: DataFrame,
      keyCols: Seq[String]): Int = {
    import org.apache.spark.sql.functions.{col, count, lit}
    require(keyCols.nonEmpty, "mergeByKey needs at least one key column")
    val dups = source.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1).collect()
    require(dups.isEmpty,
      s"merge source has duplicate keys (e.g. ${dups.headOption.getOrElse("")})")
    val cur = currentVersion(root)
    val merged =
      if (cur == 0) source
      else {
        val curDf = read(spark, root, cur)
        // shared VALUE columns keep the TABLE's type (the
        // store-assignment contract of the transactional formats):
        // the source is implicitly cast where ANSI store assignment
        // allows it (numeric widening/narrowing, not
        // string->numeric), so a merge can never silently flip a
        // column's physical type between versions — the changes()
        // alignment treats a same-name type change as corruption.
        val shared = curDf.schema.filter(f => source.columns.contains(f.name))
        for (f <- shared; sf = source.schema(f.name) if sf.dataType != f.dataType)
          require(org.apache.spark.sql.catalyst.expressions.Cast
            .canANSIStoreAssign(sf.dataType, f.dataType),
            s"merge source column ${f.name} has type ${sf.dataType}, " +
              s"table has ${f.dataType} — cast before merging")
        val srcAligned = source.select(source.columns.map { c =>
          curDf.schema.find(_.name == c) match {
            case Some(f) if f.dataType != source.schema(c).dataType =>
              col(c).cast(f.dataType).as(c)
            case _ => col(c)
          }
        }.toSeq: _*)
        // ANSI store assignment permits casts that are lossy for
        // SOME values (DOUBLE 1.9 -> LONG 1). A type-level guard
        // (canUpCast) would reject legitimate in-range narrowing, so
        // the contract is lossless-IN-FACT (ADVICE r9): every cast
        // column must round-trip back to its source value exactly,
        // checked in one pass over the batch-sized source; a row
        // that would lose precision fails the merge loudly instead
        // of committing silently truncated data. This also subsumes
        // the r9 key-collapse guard: an exact round-trip makes the
        // cast injective on the source's values (cast(a)=cast(b) ⇒
        // a = back(cast(a)) = back(cast(b)) = b), so distinct keys
        // can no longer collapse to duplicates after casting.
        val castCols = source.schema.flatMap { sf =>
          curDf.schema.find(_.name == sf.name)
            .filter(_.dataType != sf.dataType).map(f => (sf, f))
        }
        if (castCols.nonEmpty) {
          // null-safe inequality (<=>): a cast that OVERFLOWS to null
          // in a non-ANSI session would make the plain =!= round-trip
          // compare evaluate to null, slip through the filter, and
          // commit null over real data — the exact silent corruption
          // this guard exists to stop (code-review r10). Under ANSI
          // the same overflow throws inside the filter itself, so the
          // probe is wrapped to surface the friendly diagnostic
          // either way.
          val lossy = castCols.map { case (sf, f) =>
            !(source(sf.name).cast(f.dataType).cast(sf.dataType) <=> source(sf.name))
          }.reduce(_ || _)
          val castDesc = castCols.map(c => c._1.name +
            s" ${c._1.dataType.simpleString}->${c._2.dataType.simpleString}")
            .mkString(", ")
          val bad =
            try source.filter(lossy).limit(1).collect()
            catch { case e: org.apache.spark.SparkThrowable =>
              throw new IllegalArgumentException(
                s"merge source row loses precision (cast overflow) casting to " +
                  s"the table's column types (cast columns: $castDesc) — " +
                  s"cast explicitly before merging", e.asInstanceOf[Throwable])
            }
          require(bad.isEmpty,
            s"merge source row loses precision casting to the table's " +
              s"column types (e.g. ${bad.headOption.getOrElse("")}; " +
              s"cast columns: $castDesc) — cast explicitly before merging")
        }
        // Schema evolution semantics (Delta MERGE parity, ADVICE
        // r9): a source with a NEW column appends it (old rows
        // null). A source MISSING a table column must not null it on
        // MATCHED keys — updateAll preserves target columns absent
        // from the source — so matched rows pull the missing columns
        // from their CURRENT row via a left join on the keys;
        // unmatched (inserted) keys get null there, the insertAll
        // contract. The join's right side is the table projected to
        // (keys ++ missing) — one row per key by the table
        // invariant, so source cardinality is preserved.
        val missingCols = curDf.schema.map(_.name)
          .filterNot(source.columns.contains)
        val srcFull =
          if (missingCols.isEmpty) srcAligned
          else srcAligned.join(
            curDf.select((keyCols ++ missingCols).map(col): _*),
            keyCols, "left")
        // the using-columns join form moves keyCols to the FRONT of
        // its output; restore the table's column order so every
        // version shares one physical layout (changes() and any
        // positional consumer depend on it). allowMissingColumns
        // keeps the merge schema-evolving for source-side NEW
        // columns (appended, old rows null).
        curDf.join(srcAligned.select(keyCols.map(col): _*), keyCols, "left_anti")
          .select(curDf.columns.map(col): _*)
          .unionByName(srcFull, allowMissingColumns = true)
      }
    commit(spark, root, merged, readVersion = cur)
  }

  // ---- RESTORE -----------------------------------------------------

  /** Roll the table back to `toVersion` as a NEW commit (history is
    * never rewritten — the bad versions stay time-travelable until
    * vacuum). Metadata-only: the new version hard-links the target
    * version's data files and its `_dv`, and takes its `_partmap` and
    * its manifests' lines, so restoring a 100 TB table costs |files|
    * link operations, not a rewrite. Conflict-checked as a full-table
    * write against the current head.
    */
  def restore(spark: SparkSession, root: String, toVersion: Int): Int = {
    val cur = currentVersion(root)
    require(toVersion > 0 && toVersion <= cur,
      s"cannot restore to v$toVersion (latest is $cur)")
    val srcDir = Paths.get(root, s"v=$toVersion")
    require(Files.exists(srcDir),
      s"version $toVersion does not exist (vacuumed)")
    val staging = stage(root, Set("*")) { s =>
      val linked = linkFrom(srcDir, s, listDataFiles(srcDir))
      // same files, so the file→token map still holds
      if (Files.exists(partmapFile(srcDir)))
        Files.copy(partmapFile(srcDir), partmapFile(s))
      // CHECK constraints bind RESTORE too: constraints added after
      // `toVersion` was written must not be bypassable by restoring to
      // it — no violating version may ever become the readable head.
      // One read-only scan of the (hard-linked, DV-applied) staged rows.
      validateConstraints(spark, root, s)
      writeManifests(spark, s, Some(srcDir), linked, Nil, Nil, 1024, Nil)
    }
    val committed = casCommit(root, staging, Set("*"), cur)
    TableStats.maintainFull(spark, root, committed) // enrolled stats (advisory)
    committed
  }

  // ---- commit history (metadata table) -----------------------------

  /** The table's commit history as a DataFrame — (version,
    * committed_at, operation-visible metadata: touched partitions,
    * file count, has deletion vector) for every version still on
    * disk, newest first. The `DESCRIBE HISTORY` surface for audit
    * and debugging; timestamps are filesystem mtimes of the version
    * directories (observability data, not part of any oracle).
    */
  def historyTable(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val cur = currentVersion(root)
    val rows = (1 to cur).flatMap { v =>
      val dir = Paths.get(root, s"v=$v")
      if (!Files.exists(dir)) None // vacuumed
      else {
        val files = listDataFiles(dir).size
        val parts = try touched(root, v).toSeq.sorted.mkString(",")
                    catch { case _: Exception => "*" }
        Some((v, Files.getLastModifiedTime(dir).toMillis, parts, files,
          Files.exists(dvDir(dir))))
      }
    }
    rows.toDF("version", "committed_at_ms", "partitions", "n_files", "has_dv")
      .orderBy(org.apache.spark.sql.functions.col("version").desc)
  }

  // ---- OPTIMIZE (file compaction) ----------------------------------

  /** Bin-pack the current version's live rows into ~`targetFileBytes`
    * files as a new full-table version — the OPTIMIZE half of the
    * format: many small commits (or a streaming sink's per-batch
    * files) degrade scan parallelism and footer-listing cost, and
    * accumulated deletion vectors tax every read with the anti-join;
    * compaction pays the rewrite once and clears both debts.
    *
    * The output file count is sized from the version's LIVE byte
    * count (data bytes minus nothing — deleted-row bytes are an
    * overestimate, which errs toward slightly larger files, the
    * harmless direction). `coalesce` narrows without a shuffle —
    * the scale-correct default for a pure compaction; pass
    * `rebalance = true` to pay one round-robin shuffle when the
    * inputs are pathologically skewed. Time travel to pre-compaction
    * versions is untouched; vacuum reclaims them later.
    */
  def compactFiles(spark: SparkSession, root: String,
      targetFileBytes: Long = 128L << 20, rebalance: Boolean = false,
      statsCols: Seq[String] = Nil): Int = {
    val cur = currentVersion(root)
    require(cur > 0, s"no committed version at $root")
    val dir = Paths.get(root, s"v=$cur")
    val bytes = listDataFiles(dir).map(n => Files.size(dir.resolve(n))).sum
    val nOut = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val live = read(spark, root, cur)
    val packed = if (rebalance) live.repartition(nOut) else live.coalesce(nOut)
    commit(spark, root, packed, readVersion = cur, statsCols = statsCols)
  }

  // ---- CHECK constraints -------------------------------------------
  //
  // Table-level row invariants enforced at commit time, validated
  // against the STAGED files (the exact bytes about to publish, still
  // in page cache) so no violating version can ever become readable.
  // Stored one file per constraint under `_constraints/` — table
  // metadata, not version metadata, so they apply to every subsequent
  // commit until dropped.

  /** A commit's staged data violated a CHECK constraint; nothing was
    * published.
    */
  final class ConstraintViolation(msg: String) extends RuntimeException(msg)

  private def constraintsDir(root: String) = Paths.get(root, "_constraints")

  def addConstraint(root: String, name: String, sqlExpr: String): Unit = {
    require(name.matches("[A-Za-z0-9_-]+"), s"invalid constraint name '$name'")
    Files.createDirectories(constraintsDir(root))
    Files.writeString(constraintsDir(root).resolve(name), sqlExpr)
  }

  def dropConstraint(root: String, name: String): Unit = {
    Files.deleteIfExists(constraintsDir(root).resolve(name)); ()
  }

  /** The table's CHECK constraints, name → SQL predicate. */
  def constraints(root: String): Map[String, String] = {
    val dir = constraintsDir(root)
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => p.getFileName.toString -> Files.readString(p).trim)
        .toMap
      finally s.close()
    }
  }

  /** Throws [[ConstraintViolation]] if any staged LIVE row fails a
    * CHECK predicate (null counts as failure, as in SQL `CHECK` the
    * constraint must be TRUE). One filtered count per constraint over
    * the staged files; a staged `_dv` sidecar (restore of a
    * DV-carrying version) is applied first so only visible rows are
    * judged.
    */
  private[sources] def validateConstraints(spark: SparkSession, root: String,
      staged: Path): Unit =
    checkConstraints(root)(
      applyDv(spark, staged, sidecarReader(spark, staged).parquet(staged.toString)))

  /** [[validateConstraints]] over `rows`, built only when `root` has a
    * constraint.
    */
  private[sources] def checkConstraints(root: String)(rows: => DataFrame): Unit = {
    import org.apache.spark.sql.functions.{coalesce => fnCoalesce, expr, lit, not}
    val cs = constraints(root)
    if (cs.isEmpty) return
    val df = rows
    cs.foreach { case (name, sql) =>
      val bad = df.filter(not(fnCoalesce(expr(sql), lit(false)))).count()
      if (bad > 0)
        throw new ConstraintViolation(
          s"CHECK constraint '$name' ($sql) violated by $bad staged row(s); commit aborted")
    }
  }

  // ---- file-level stats manifest (manifest data skipping) ----------
  //
  // What Delta/Iceberg add beyond the commit protocol is MANIFEST
  // data skipping: per-file min/max column stats recorded at commit
  // time, so a selective read opens only the files whose range can
  // match — before any parquet footer is touched. Same idea here:
  // `commit(statsCols = ...)` records per-file min/max for the named
  // columns of the STAGED files in `_stats.json` INSIDE the staging
  // dir (computed by the manifest pass below, together with the value
  // sets and blooms), so it publishes atomically with the version
  // rename and is invisible to readers (underscore-prefixed files are
  // hidden from Spark's parquet listing). `readPruned` consults it and
  // hands Spark only the surviving files. At 100 TB this is the
  // difference between listing 10⁶ footers and opening the 3 files a
  // key-range probe needs. Lines: `fileName \t col \t min \t max`
  // (values as strings, "\0N" for an all-null file; file names are
  // basename-only — the directory is renamed at publish).

  private def statsFile(dir: Path) = dir.resolve("_stats.json")

  // ---- value-set skipping (point-lookup pruning) -------------------
  //
  // Min/max ranges cannot prune a point probe on a column whose
  // values interleave across files (every range contains the key).
  // Value-set skipping is the exact-dictionary complement: at commit
  // time, files whose per-column distinct-value count fits a cap
  // record the full value set in `_sets.json`; a `column = value`
  // probe then opens only the files whose set contains the value.
  // Files over the cap record OVERFLOW and are always kept —
  // pruning stays an optimization, never a correctness filter. This
  // is the parquet-dictionary / bloom-filter idea at manifest level:
  // at 100 TB a point lookup opens |files-holding-key| files instead
  // of every file whose min..max straddles it. Lines: `file \t col \t
  // v1 \x01 v2 …` (escaped values, sorted; "\0N" for null, which the
  // cap does not count) or `file \t col \t \0OVERFLOW`.

  private def setsFile(dir: Path) = dir.resolve("_sets.json")
  private val setsOverflow = "\\0OVERFLOW"
  private val setsSep: Char = '\u0001'

  // TSV-framing escape for USER DATA VALUES in the stats/sets
  // manifests (both files are tab/newline-framed despite the
  // historical .json names). Unescaped, a string value containing a
  // newline would split its line in two: the first half parses as a
  // VALID line with a truncated value set, so a probe for the full
  // value wrongly prunes a file that contains it -- pruning must stay
  // an optimization, never a correctness filter. Escaping makes the
  // framing injective; the `\0N` / `\0OVERFLOW` sentinels stay
  // unambiguous because a real leading backslash escapes to `\\`.
  /** Render a partition VALUE as its token text. Float/Double go
    * through their IEEE-754 bit pattern (hex) instead of toString:
    * JDK 19 changed Double.toString to shortest-representation, so a
    * toString token minted on JDK<=18 would not equal the token the
    * same logical value mints on JDK>=19 — the kept-files filter
    * would then keep the old file AND write the new slice,
    * duplicating that partition's rows on the fast path (the exact
    * failure mode BinaryType is excluded for). Bits are value-based
    * and JVM-version-stable. NaN canonicalizes via floatToIntBits /
    * doubleToLongBits (all NaN payloads are one partition under
    * Spark's <=>), and -0.0 canonicalizes to 0.0 (Spark normalizes
    * signed zero in comparisons, so both zeros are one partition).
    * Tables partitioned on float/double BEFORE this change carry
    * toString tokens; rewrite them (one full commit) before slicing
    * them again — mixed-format tokens for one column never match, so
    * the fast path would duplicate rows.
    */
  private def tokenRender(v: Any): String = v match {
    case f: java.lang.Float =>
      val c = if (f.floatValue() == 0.0f) 0.0f else f.floatValue()
      "f" + Integer.toHexString(java.lang.Float.floatToIntBits(c))
    case d: java.lang.Double =>
      val c = if (d.doubleValue() == 0.0d) 0.0d else d.doubleValue()
      "d" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(c))
    case other => other.toString
  }

  private[sources] def escapeVal(s: String): String = s.flatMap {
    case '\\'      => "\\\\"
    case '\t'      => "\\t"
    case '\n'      => "\\n"
    case '\r'      => "\\r"
    case `setsSep` => "\\x01"
    case c         => c.toString
  }
  private def unescapeVal(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '\\' => sb.append('\\'); i += 2
          case 't'  => sb.append('\t'); i += 2
          case 'n'  => sb.append('\n'); i += 2
          case 'r'  => sb.append('\r'); i += 2
          case 'x' if s.startsWith("\\x01", i) => sb.append(setsSep); i += 4
          case _    => sb.append(s.charAt(i)); i += 1 // lone backslash (sentinels)
        }
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  // ---- bloom-filter skipping (high-cardinality point pruning) ------
  //
  // The value-set sidecar is exact but capped: files past `setCap`
  // distinct values record OVERFLOW and every point probe keeps them.
  // The bloom sidecar (`_bloom.json`, see sources/BloomSidecar) covers
  // exactly that regime — a fixed-size per-(file, column) bit array
  // with no false negatives — so `pruneFilesEq` stays useful on
  // non-clustered high-cardinality columns (IDs, hashes) where at
  // 100 TB the set cap is always exceeded. Probes consult the set
  // first (exact), and fall through to the bloom only for files whose
  // set is OVERFLOW or absent. Lines: `file \t col \t m:k:base64`.

  private def bloomFile(dir: Path) = dir.resolve("_bloom.json")

  // ---- the manifest pass ------------------------------------------
  //
  // All three manifests of a staged version come from ONE
  // `groupBy(file)` aggregate over the staged bytes (still in page
  // cache): min/max per stats column, a capped value set per set
  // column ([[BloomSidecar.CappedSetAgg]]), and bloom bits per bloom
  // column ([[BloomSidecar.BloomAgg]]). |files| rows reach the driver
  // — the same small-by-construction collect contract as ParquetDml's
  // partition listing. The read declares the staged `_schema.json`,
  // so schema inference runs no job either. Which files and columns
  // the pass covers is the one manifest rule's call
  // ([[writeManifests]]): every file a version writes, and no file it
  // links with its lines — so a merge, an OPTIMIZE, an append or a
  // slice commit keeps the table's manifests, and a delete or a
  // restore runs a pass only for a linked file that has no line.

  /** The manifest kinds, in the order [[manifestPass]] returns them. */
  private val manifestFiles: Seq[Path => Path] = Seq(statsFile, setsFile, bloomFile)

  /** Rows in a staged parquet file, from its footer (no Spark job). */
  private def footerRows(file: Path): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      new org.apache.parquet.io.LocalInputFile(file))
    try r.getRecordCount finally r.close()
  }

  /** Stats, value-set and bloom manifest lines (in [[manifestFiles]]
    * order) for the data files of `dir` — all of them, or just
    * `only` (the files [[writeManifests]] has no lines for). A kind
    * with no columns gets no lines; nothing requested runs no job.
    */
  private def manifestPass(spark: SparkSession, dir: Path,
      only: Option[Set[String]], statsCols: Seq[String],
      setCols: Seq[String], setCap: Int,
      bloomCols: Seq[String]): Seq[Seq[String]] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.functions.{col => c, input_file_name, max => mx, min => mn, udaf}
    lazy val files = only.map(_.toSeq.sorted).getOrElse(listDataFiles(dir))
    if ((statsCols ++ setCols ++ bloomCols).isEmpty || files.isEmpty)
      return manifestFiles.map(_ => Nil)
    // one (m, k) for the largest file's row count, so no file's
    // realized fpp exceeds Fpp (smaller files get a sparser filter)
    lazy val (m, k) = BloomSidecar.size(
      files.map(f => footerRows(dir.resolve(f))).max, BloomSidecar.Fpp)
    val sets = udaf(new BloomSidecar.CappedSetAgg(setCap), Encoders.STRING)
    lazy val bloom = udaf(new BloomSidecar.BloomAgg(m, k), Encoders.STRING)
    val aggs = statsCols.flatMap(n => Seq(mn(c(n)), mx(c(n))).map(_.cast("string"))) ++
      setCols.map(n => sets(c(n).cast("string"))) ++
      bloomCols.map(n => bloom(c(n).cast("string")))
    val src = only.fold(Seq(dir.toString))(_ => files.map(dir.resolve(_).toString))
    val rows = sidecarReader(spark, dir).parquet(src: _*)
      .groupBy(input_file_name()).agg(aggs.head, aggs.tail: _*).collect()
    def render(v: String) = if (v == null) "\\0N" else escapeVal(v)
    val (s0, b0) = (1 + 2 * statsCols.size, 1 + 2 * statsCols.size + setCols.size)
    val lines = rows.toSeq.map { r =>
      val file = Paths.get(new java.net.URI(r.getString(0)).getPath)
        .getFileName.toString
      Seq(
        statsCols.zipWithIndex.map { case (n, i) =>
          s"$file\t$n\t${render(r.getString(1 + 2 * i))}\t${render(r.getString(2 + 2 * i))}"
        },
        setCols.zipWithIndex.map { case (n, i) =>
          val vs = r.getSeq[String](s0 + i)
          s"$file\t$n\t${if (vs.isEmpty) setsOverflow
            else vs.map(render).sorted.mkString(setsSep.toString)}"
        },
        bloomCols.zipWithIndex.map { case (n, i) =>
          val bb = java.nio.ByteBuffer.wrap(r.getAs[Array[Byte]](b0 + i))
          val bits = Array.fill(bb.capacity / 8)(bb.getLong)
          s"$file\t$n\t${BloomSidecar.encode(bits, m, k)}"
        })
    }
    manifestFiles.indices.map(i => lines.flatMap(_(i)))
  }

  private def writeLines(file: Path, lines: Seq[String]): Unit = {
    Files.writeString(file, lines.map(_ + "\n").mkString); ()
  }

  /** The one manifest rule, shared by every staging path. Per kind, a
    * staged version's manifest columns are those of `base` (the
    * version it was staged against) that its schema still has, plus
    * the requested ones. A file linked from `base` keeps its lines
    * verbatim: a manifest describes immutable bytes. Files this
    * version wrote, and linked files with no line for a column, get
    * theirs from one [[manifestPass]] over just those files, with the
    * caller's `setCap` (caps are not recorded; another cap only shifts
    * which files read OVERFLOW). Inheriting from `base` stays correct
    * when the claim later rebases: a manifest is a pruning hint, and a
    * missing line only keeps its file.
    */
  private[sources] def writeManifests(spark: SparkSession, staging: Path,
      base: Option[Path], linked: Set[String], statsCols: Seq[String],
      setCols: Seq[String], setCap: Int, bloomCols: Seq[String]): Unit = {
    def key(line: String) = { val f = line.split("\t", 3); (f(0), f(1)) }
    val inSchema: String => Boolean =
      sidecarSchema(staging).fold((_: String) => true)(_.fieldNames.toSet)
    val prior = manifestFiles.map(f => base.map(f).filter(Files.exists(_)).toSeq
      .flatMap(p => Files.readString(p).linesIterator.filter(_.nonEmpty)))
    val cols = prior.lazyZip(Seq(statsCols, setCols, bloomCols)).map((ls, requested) =>
      (ls.map(key(_)._2).filter(inSchema) ++ requested).distinct)
    val carried = prior.lazyZip(cols).map((ls, cs) => ls.filter { l =>
      val (f, c) = key(l); linked(f) && cs.contains(c)
    })
    val files = listDataFiles(staging)
    val need = carried.lazyZip(cols).map { (ls, cs) =>
      val have = ls.map(key).toSet
      (for (f <- files; c <- cs if !have((f, c))) yield (f, c)).toSet
    }
    val scan = need.flatten.map(_._1).toSet
    val fresh = manifestPass(spark, staging,
      Option.when(scan.size < files.size)(scan),
      need(0).toSeq.map(_._2).distinct, need(1).toSeq.map(_._2).distinct,
      setCap, need(2).toSeq.map(_._2).distinct)
    for (i <- manifestFiles.indices if cols(i).nonEmpty)
      writeLines(manifestFiles(i)(staging),
        carried(i) ++ fresh(i).filter(l => need(i)(key(l))))
  }

  /** One manifest's lines split on tabs — `file, column, payload…` —
    * keeping only `column`'s lines when one is given. One read of the
    * file; an absent manifest has no lines, and callers skip lines of
    * the wrong shape, so absent or malformed both mean "keep the file".
    */
  private def manifestLines(manifest: Path,
      column: Option[String] = None): Iterator[Array[String]] =
    if (!Files.exists(manifest)) Iterator.empty
    else Files.readString(manifest).linesIterator.map(_.split('\t'))
      .filter(l => l.length > 1 && column.forall(_ == l(1)))

  /** Driver-side bloom slice for one column of one version directory:
    * file → (m, k, bits). Absent manifest or malformed lines read as
    * "no filter" (callers keep those files conservatively).
    */
  private def loadBlooms(dir: Path,
      column: String): Map[String, (Int, Int, Array[Long])] =
    manifestLines(bloomFile(dir), Some(column)).flatMap {
      case Array(f, _, payload) => BloomSidecar.decode(payload).map(f -> _)
      case _ => None
    }.toMap

  /** Files of version `v` that can hold rows with `column = value`
    * according to the value-set manifest. Files with OVERFLOW, no
    * set line, or a table committed without sets are kept — unless a
    * bloom sidecar covers them, in which case the bloom's
    * no-false-negative `mightContain` decides. Returns full paths.
    */
  def pruneFilesEq(spark: SparkSession, root: String, column: String,
      value: String, version: Int = -1): Seq[String] = {
    val v = committedVersion(root, version)
    val dir = Paths.get(root, s"v=$v")
    val all = listDataFiles(dir).sorted
    val blooms = loadBlooms(dir, column)
    def bloomKeep(f: String): Boolean = blooms.get(f) match {
      case Some((m, k, bits)) => BloomSidecar.mightContain(bits, m, k, value)
      case None => true // no filter for this file: keep
    }
    val sets: Map[String, String] =
      manifestLines(setsFile(dir), Some(column)).collect {
        case Array(f, _, payload) => f -> payload
        case Array(f, _) => f -> "" // empty set
      }.toMap
    all.filter { f =>
      sets.get(f) match {
        case Some(p) if p == setsOverflow => bloomKeep(f)
        case Some(p) => p.split(setsSep).contains(escapeVal(value))
        case None => bloomKeep(f) // no set line for this file
      }
    }.map(n => s"$root/v=$v/$n")
  }

  /** Point-lookup read through the value-set manifest: open only the
    * files whose dictionary holds the value, then apply the residual
    * equality filter (and any deletion vectors). Exactly
    * `read(...).filter(column = value)`.
    */
  def readPoint(spark: SparkSession, root: String, column: String,
      value: String, version: Int = -1): DataFrame =
    readPointAll(spark, root, Seq(column -> value), version)

  /** Conjunctive point-lookup read: every (column, value) equality at
    * once, opening only the files that survive EVERY predicate's
    * sidecar pruning (set/bloom per column, intersected). Exactly
    * `read(...).filter(c1 = v1 AND c2 = v2 AND ...)`. This is the
    * compound-probe primitive for tables laid out on one column and
    * bloom-indexed on another (e.g. an inverted text index bucketed
    * by token hash with per-file token blooms: the bucket set prunes
    * to the slice, the token bloom prunes within it).
    */
  def readPointAll(spark: SparkSession, root: String,
      preds: Seq[(String, String)], version: Int = -1): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, lit}
    require(preds.nonEmpty, "readPointAll needs at least one predicate")
    val v = committedVersion(root, version)
    val files = preds
      .map { case (column, value) =>
        pruneFilesEq(spark, root, column, value, v).toSet
      }
      .reduce(_ intersect _)
    if (files.isEmpty)
      read(spark, root, v).filter(lit(false))
    else {
      val residual = preds
        .map { case (column, value) => c(column).cast("string") === value }
        .reduce(_ && _)
      val dir = Paths.get(root, s"v=$v")
      applyDv(spark, dir, sidecarReader(spark, dir).parquet(files.toSeq.sorted: _*))
        .filter(residual)
    }
  }

  /** Files of version `v` whose [min,max] range for `column` can
    * intersect [lo, hi] (numeric compare when `numeric`, else
    * lexicographic). Files without a stats line — or a table
    * committed without stats at all — are kept: pruning is an
    * optimization, never a correctness filter. Returns full paths.
    */
  def pruneFiles(spark: SparkSession, root: String, column: String,
      lo: String, hi: String, numeric: Boolean = true,
      version: Int = -1): Seq[String] = {
    val v = committedVersion(root, version)
    val ranges = statsRanges(root, column, v)
    def le(a: String, b: String): Boolean =
      if (!numeric) a <= b
      else (a.toDoubleOption, b.toDoubleOption) match {
        case (Some(x), Some(y)) => x <= y
        case _ => true // unparsable stat: conservative keep
      }
    listDataFiles(Paths.get(root, s"v=$v")).sorted.filter { f =>
      ranges.get(f) match {
        // all-null file ("\0N"; a real "\0N" value keeps too): keep
        case Some((mnV, mxV)) if mnV == "\\0N" || mxV == "\\0N" => true
        case Some((mnV, mxV)) => le(lo, mxV) && le(mnV, hi) // intersects
        case None => true // no stats line for this file: keep
      }
    }.map(n => s"$root/v=$v/$n")
  }

  /** Range-probe read through the stats manifest: open only the
    * files whose stats range can match, then apply the residual
    * BETWEEN filter (kept files may still carry non-matching rows).
    * Exactly `read(...).filter(column between lo and hi)` — proven
    * by SnapshotStatsSpec — but touching a fraction of the files.
    */
  def readPruned(spark: SparkSession, root: String, column: String,
      lo: String, hi: String, numeric: Boolean = true,
      version: Int = -1): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    val v = committedVersion(root, version)
    val files = pruneFiles(spark, root, column, lo, hi, numeric, v)
    val typed =
      if (numeric) c(column).cast("double").between(lo.toDouble, hi.toDouble)
      else c(column).between(lo, hi)
    if (files.isEmpty) {
      // every file pruned: empty result with the table's schema
      read(spark, root, v).filter(org.apache.spark.sql.functions.lit(false))
    } else {
      // deletion vectors apply to the surviving files too (the DV
      // join keys on file_name, so a file subset is fine)
      val dir = Paths.get(root, s"v=$v")
      applyDv(spark, dir, sidecarReader(spark, dir).parquet(files: _*)).filter(typed)
    }
  }

  /** The stats manifest as a queryable DataFrame — (file, column,
    * min, max, bytes) per data file of the version; the `describe
    * detail` surface for layout debugging ("which files would this
    * probe open?") without touching any parquet footer.
    */
  def statsTable(spark: SparkSession, root: String, version: Int = -1): DataFrame = {
    import spark.implicits._
    val dir = Paths.get(root, s"v=${committedVersion(root, version)}")
    manifestLines(statsFile(dir)).collect { case Array(f, c, mnV, mxV) =>
      val sz = try Files.size(dir.resolve(f)) catch { case _: Exception => -1L }
      (f, c, unescapeVal(mnV), unescapeVal(mxV), sz)
    }.toSeq.toDF("file", "column", "min", "max", "bytes")
  }

  /** Driver-only stats-manifest slice: file → (min, max) for one
    * column of one version — the map [[pruneFiles]] prunes with,
    * shared so per-batch probes (BandHistory) can memoize it per
    * (root, version) instead of re-collecting [[statsTable]] (which
    * also stats every data file's size) on every call. Zero Spark
    * jobs; an absent manifest is the empty map (callers keep files
    * conservatively).
    */
  private[sources] def statsRanges(root: String, column: String,
      version: Int): Map[String, (String, String)] =
    manifestLines(statsFile(Paths.get(root, s"v=$version")), Some(column)).collect {
      case Array(f, _, mnV, mxV) => f -> (unescapeVal(mnV), unescapeVal(mxV))
    }.toMap

  // ---- change data feed --------------------------------------------

  /** Row-level changes between two committed versions, bag
    * semantics: rows only in `toV` are inserts, rows only in `fromV`
    * are deletes (exceptAll preserves multiplicity — two identical
    * new rows are two inserts). With no key contract an update reads
    * as delete+insert; `changesByKey` refines that. Incremental
    * consumers read `changes(v-1, v)` per commit — the CDC feed a
    * transactional format derives from its log, reconstructed here
    * from the immutable version directories.
    */
  def changes(spark: SparkSession, root: String, fromV: Int, toV: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val a = read(spark, root, fromV)
    val bRaw = read(spark, root, toV)
    // exceptAll/unionAll pair rows POSITIONALLY; align BOTH versions
    // to one column list by NAME first, so a version whose physical
    // column order drifted (e.g. a pre-fix mergeByKey moved key
    // columns to the front) can never mis-pair columns into
    // silently-wrong change rows. Across a schema-EVOLUTION boundary
    // (additive merge, or a restore past one) the alignment target is
    // the UNION of both column sets with typed nulls for the side
    // missing a column — a row whose new column went null→value then
    // reads as delete+insert, which is exactly what changed.
    val aligned = alignVersions(a, bRaw, "changes()")
    val (av, bv) = aligned
    bv.exceptAll(av).withColumn("_change_type", lit("insert"))
      .unionAll(av.exceptAll(bv).withColumn("_change_type", lit("delete")))
  }

  /** Align two versions of a table to one column list (the older
    * side's order, then columns only the newer side has), with typed
    * null literals where a side lacks a column. Shared columns must
    * agree on type — a same-name type change is genuine corruption,
    * not evolution, and fails loudly.
    */
  private def alignVersions(a: DataFrame, b: DataFrame,
      op: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, lit}
    for (f <- a.schema if b.columns.contains(f.name)) {
      val bt = b.schema(f.name).dataType
      require(bt == f.dataType,
        s"$op: column ${f.name} changed type ${f.dataType} -> $bt " +
          "between versions; cannot align")
    }
    val all = a.columns ++ b.columns.filterNot(a.columns.contains)
    def align(df: DataFrame, other: DataFrame): DataFrame =
      df.select(all.map { c =>
        if (df.columns.contains(c)) col(c)
        else lit(null).cast(other.schema(c).dataType).as(c)
      }.toSeq: _*)
    (align(a, b), align(b, a))
  }

  /** Keyed change feed: classify by `keyCols` into insert / delete /
    * update_preimage+update_postimage (key present in both versions
    * with any non-key column changed). One full-outer join on the
    * key; row equality via null-safe struct compare. Key columns
    * must be unique per version for the pre/post pairing to be
    * 1:1 — the usual CDC primary-key contract.
    */
  def changesByKey(spark: SparkSession, root: String,
      fromV: Int, toV: Int, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct}
    val aRaw = read(spark, root, fromV)
    val bRaw = read(spark, root, toV)
    require(keyCols.forall(k =>
      aRaw.columns.contains(k) && bRaw.columns.contains(k)),
      s"changesByKey: key columns $keyCols must exist in both versions")
    // union-of-columns alignment, same contract as changes(): across
    // an additive evolution boundary the pre/postimages carry the
    // union schema with typed nulls for the missing side
    val (a, b) = alignVersions(aRaw, bRaw, "changesByKey()")
    val cols = a.columns.toSeq
    val onKeys = keyCols.map(k => col(s"a.$k") <=> col(s"b.$k")).reduce(_ && _)
    val j = a.as("a").join(b.as("b"), onKeys, "full_outer")
    val aKey = col(s"a.${keyCols.head}")
    val bKey = col(s"b.${keyCols.head}")
    val aRow = struct(cols.map(c => col(s"a.$c")): _*)
    val bRow = struct(cols.map(c => col(s"b.$c")): _*)
    val inserts = j.filter(aKey.isNull && bKey.isNotNull)
      .select(cols.map(c => col(s"b.$c")) :+ lit("insert").as("_change_type"): _*)
    val deletes = j.filter(aKey.isNotNull && bKey.isNull)
      .select(cols.map(c => col(s"a.$c")) :+ lit("delete").as("_change_type"): _*)
    val updated = j.filter(aKey.isNotNull && bKey.isNotNull && !(aRow <=> bRow))
    val pre = updated
      .select(cols.map(c => col(s"a.$c")) :+ lit("update_preimage").as("_change_type"): _*)
    val post = updated
      .select(cols.map(c => col(s"b.$c")) :+ lit("update_postimage").as("_change_type"): _*)
    inserts.unionAll(deletes).unionAll(pre).unionAll(post)
  }

  // ---- streaming change feed ---------------------------------------
  //
  // The batch feed above answers "what changed between v_a and v_b";
  // what a transactional format adds on top is a CONTINUOUS source —
  // `spark.readStream` over the table's change log, so a downstream
  // pipeline (incremental view, search-index sync, replication) keeps
  // up with commits without rescanning snapshots. Spark-first shape:
  // instead of a custom DataSourceV2, each commit's change batch is
  // MATERIALIZED once into `root/_cdc/commit_version=N/` via an atomic
  // directory rename, and the feed is the built-in parquet
  // FileStreamSource over `_cdc` — new commits appear as new files,
  // exactly-once file tracking, checkpointing and recovery all come
  // from Structured Streaming for free. The partition directory name
  // doubles as the `commit_version` column, so consumers can order or
  // window the feed by commit without any extra bookkeeping.

  private def cdcDir(root: String) = Paths.get(root, "_cdc")

  /** Versions whose change batch is already published under `_cdc`. */
  def publishedChangeVersions(root: String): Seq[Int] = {
    val dir = cdcDir(root)
    if (!Files.exists(dir)) Nil
    else Files.list(dir).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("commit_version=") =>
        s.stripPrefix("commit_version=").toInt }
      .toSeq.sorted
  }

  /** Materialize the change batch of every committed-but-unpublished
    * version into the CDC directory. Version 1 publishes as an
    * all-insert batch (the table's initial content IS its first
    * change set); later versions use the keyed feed when `keyCols` is
    * given, else the bag-semantics row feed. Each batch is written to
    * a writer-unique staging dir and atomically renamed into place, so
    * a concurrent streaming reader sees a commit's files all-or-
    * nothing, and concurrent publishers racing on the same version
    * resolve by first-rename-wins (the loser discards its copy — both
    * computed identical content from immutable version directories).
    * Requires a stable schema across published versions (same contract
    * as `changesByKey`). Cost ∝ changed data, not table size, except
    * the two-snapshot diff itself — a format with a row-level log
    * would read the log; reconstructing from immutable snapshots is
    * the price of keeping plain parquet underneath.
    *
    * @return versions published by THIS call (empty = already current)
    */
  def publishChanges(spark: SparkSession, root: String,
      keyCols: Seq[String] = Nil): Seq[Int] = {
    import org.apache.spark.sql.functions.lit
    val cur = currentVersion(root)
    require(cur > 0, s"no committed version at $root")
    val dir = cdcDir(root)
    Files.createDirectories(dir)
    val have = publishedChangeVersions(root).toSet
    val todo = (1 to cur).filterNot(have)
    val won = todo.filter { v =>
      val feed =
        if (v == 1) read(spark, root, 1).withColumn("_change_type", lit("insert"))
        else if (keyCols.nonEmpty) changesByKey(spark, root, v - 1, v, keyCols)
        else changes(spark, root, v - 1, v)
      val stage = dir.resolve(
        s".stage-$v-${java.util.UUID.randomUUID().toString}")
      feed.write.mode("overwrite").parquet(stage.toString)
      try {
        Files.move(stage, dir.resolve(s"commit_version=$v"),
          StandardCopyOption.ATOMIC_MOVE)
        true
      } catch {
        // a concurrent publisher landed this version first; identical
        // content, so dropping our copy loses nothing
        case _: FileAlreadyExistsException => deleteTree(stage); false
        case _: java.nio.file.DirectoryNotEmptyException => deleteTree(stage); false
      }
    }
    won
  }

  /** The full published feed as a batch DataFrame (commit_version is
    * the partition column — filter on it for a version range and the
    * scan prunes to those directories). The scan names each
    * `commit_version=N` directory under a `_cdc` base path: Spark's
    * hidden-name check warns "All paths were ignored" on an
    * underscore-named root path, and a name with `=` passes it.
    */
  def readChanges(spark: SparkSession, root: String): DataFrame = {
    val versions = publishedChangeVersions(root)
    require(versions.nonEmpty,
      s"no published change batches at $root — call publishChanges first")
    val dir = cdcDir(root)
    spark.read.option("basePath", dir.toString)
      .parquet(versions.map(v => dir.resolve(s"commit_version=$v").toString): _*)
  }

  /** Continuous CDC tail: a streaming DataFrame over the published
    * change directory. Each `publishChanges` after a commit surfaces
    * that commit's rows in the next micro-batch; `_change_type` and
    * `commit_version` columns ride along. File-arrival order inside a
    * micro-batch is not commit order — consumers needing strict order
    * sort or window by `commit_version`. At least one batch must be
    * published first (the file source needs a schema, read from the
    * feed itself so it always matches what was published).
    */
  def streamChanges(spark: SparkSession, root: String): DataFrame = {
    val schema = readChanges(spark, root).schema
    spark.readStream.schema(schema).parquet(cdcDir(root).toString)
  }

  /** Drop versions older than `keepLast` (never the current one). */
  def vacuum(root: String, keepLast: Int = 2): Seq[Int] = {
    require(keepLast >= 1, s"keepLast must be >= 1 (got $keepLast): " +
      "retaining zero versions would delete the live snapshot")
    val cur = currentVersion(root)
    val dropBelow = cur - keepLast + 1
    val dropped = (1 until dropBelow).filter { v =>
      Files.exists(Paths.get(root, s"v=$v"))
    }
    dropped.foreach(v => deleteTree(Paths.get(root, s"v=$v")))
    dropped
  }

  private[graft] def deleteTree(dir: Path): Unit = {
    if (Files.exists(dir)) {
      val walk = Files.walk(dir) // stream holds a directory fd — close it
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally walk.close()
    }
  }
}

/** One table's write inside a [[SnapshotTransaction.commitAll]].
  *
  * @param partitions  partition values this write rewrites; empty =
  *                    whole table (same contract as SnapshotTable.commit)
  * @param readVersion snapshot version the DataFrame was derived from;
  *                    -1 = blind write (never conflicts, only rebases)
  *
  * `appendFiles = true` (r15) stages the new version as HARD LINKS of
  * the current version's data files (plus its `_dv`/`_schema.json`
  * sidecars) with only `df`'s rows written as new files — an APPEND
  * whose staging cost is ∝ batch + |files| link metadata ops, never
  * the table (the property that makes a per-micro-batch transactional
  * sink viable at 100 TB). The linked files keep their manifest lines,
  * and only the batch's files are scanned for theirs. The linked base
  * version becomes the write's readVersion (unless one was given), so
  * ANY commit landing after the link invalidates the composition and
  * the transaction aborts with a conflict rather than publishing stale
  * bytes. With `appendFiles = false` (default) `df` is the complete
  * next content, as in single-table [[SnapshotTable.commit]].
  *
  * `sliceCol = Some(col)` (r16) stages a PARTITION-SLICED
  * read-modify-write — the transactional twin of
  * [[SnapshotTable.commitPartitions]]: `df` holds only the touched
  * partitions' complete new rows; untouched partitions carry forward
  * from the published head (hard links on the partmap fast path), and
  * the conflict manifest claims only the touched partition tokens.
  * Because composition reads ONLY published data, the claimed slot
  * must be contiguous with the composed base; a concurrent claim in
  * between aborts the whole transaction with
  * [[SnapshotTable.SnapshotConflict]] (re-read and re-derive) rather
  * than silently dropping the in-flight writer's rows. Mutually
  * exclusive with `appendFiles`.
  *
  * Every kind keeps the table's pruning manifests by the rule of
  * [[SnapshotTable.commit]]; `setCols`/`setCap`/`bloomCols` request
  * more, exactly as in commitPartitions.
  */
final case class TableWrite(root: String, df: DataFrame,
    partitions: Seq[String] = Nil, readVersion: Int = -1,
    appendFiles: Boolean = false,
    sliceCol: Option[String] = None,
    setCols: Seq[String] = Nil, setCap: Int = 1024,
    bloomCols: Seq[String] = Nil)

/** Cross-table transactions over [[SnapshotTable]] — the piece even
  * most production formats lack (Delta/Iceberg commit one table at a
  * time). All-or-nothing durability via write-ahead intent:
  *
  *   1. STAGE every table's data (the expensive, lock-free step);
  *   2. CLAIM every table's next version slot with the same
  *      createLink CAS single-table commits use, conflict-checking
  *      each table against its declared readVersion. Any claim or
  *      conflict failure rolls back all claims already taken — no
  *      pointer has moved, so nothing was ever visible;
  *   3. write the transaction INTENT record (root, version, staging
  *      path per table) to `txnDir/txn-<uuid>.staged`, then atomically
  *      rename it to `.decided` — this rename is the commit point:
  *      before it, recovery rolls the transaction back; after it,
  *      recovery rolls it forward;
  *   4. PUBLISH: rename each staging dir to `v=N` and advance each
  *      reader pointer; delete the record when all tables are live.
  *
  * Data directories are renamed into place only AFTER the decision
  * point, so an undecided transaction's data can never become
  * reader-visible — even if an unrelated later commit pushes a
  * table's pointer past our claimed slot, `read` of that version
  * fails loudly as "never committed" rather than surfacing orphan
  * data. Visibility across tables is near-atomic, not atomic: during
  * step 4 a reader can observe table A at its new version while B's
  * pointer has not flipped yet (the classic 2PC visibility window).
  * Readers needing a consistent cross-table view pin the version
  * vector `commitAll` returns and time-travel-read it — snapshots are
  * immutable, so that view stays consistent forever.
  *
  * Crash recovery ([[recover]]) scans the transaction log: `.staged`
  * records roll back (delete stagings and claimed markers — claims
  * above the pointer are invisible dead weight otherwise), `.decided`
  * records roll forward (finish the renames and pointer flips —
  * idempotent, so recovering twice is safe).
  *
  * At 100 TB the cost profile matches single-table commits: staging
  * is proportional to data written, and steps 2-4 are a handful of
  * metadata operations per table regardless of data size.
  */
object SnapshotTransaction {
  import SnapshotTable._

  /** Deterministic fault injection for crash-recovery tests: invoked
    * with a checkpoint name at each protocol boundary; a test hook
    * that throws [[SimulatedCrash]] simulates a process death at
    * exactly that point — cleanup handlers rethrow it WITHOUT running
    * (a real crash runs nothing), leaving the on-disk state for
    * [[recover]] to repair.
    */
  @volatile private[graft] var failpoint: String => Unit = _ => ()

  /** See [[failpoint]]. */
  private[graft] final case class SimulatedCrash(at: String) extends Error(at)

  /** Atomically commit every write in `writes`; returns the committed
    * version vector (root → version). Throws [[SnapshotTable.SnapshotConflict]]
    * (after rolling back all claims) if any table's conflict check or
    * slot race fails.
    */
  def commitAll(spark: SparkSession, txnDir: String,
      writes: Seq[TableWrite]): Map[String, Int] = {
    require(writes.nonEmpty, "empty transaction")
    require(writes.map(_.root).distinct.size == writes.size,
      "a transaction may write each table at most once")
    Files.createDirectories(Paths.get(txnDir))
    // ---- 1. stage (expensive, no locks, writer-unique names) -------
    val staged = scala.collection.mutable.ArrayBuffer
      .empty[(TableWrite, Path, Set[String], Int)]
    def dropStagings(): Unit = staged.foreach { case (_, s, _, _) => discard(s) }
    try writes.sortBy(_.root).foreach { w0 =>
      require(!(w0.appendFiles && w0.sliceCol.isDefined),
        s"${w0.root}: appendFiles and sliceCol are mutually exclusive")
      requireNoReservedColumns(w0.df)
      Files.createDirectories(Paths.get(w0.root, "_log"))
      val base = currentVersion(w0.root)
      // a sliced or appending write composes against the published
      // head, so that is its read version (unless one was given): any
      // commit landing after it invalidates the composition
      val w =
        if (w0.readVersion < 0 && (w0.appendFiles || w0.sliceCol.isDefined))
          w0.copy(readVersion = base)
        else w0
      val slice = w.sliceCol.map(pcol => (pcol, slicePreamble(w.df, pcol, Nil)))
      // escapeVal: SAME framing rule as single-table commit() — the
      // overlap check compares this set against claims written by
      // commit()/commitPartitions(), which escape; an unescaped token
      // here would never string-match an escaped claim for the same
      // partition (silent lost-update), and a newline-bearing token
      // would split this manifest into bogus entries. (Markers
      // written before escaping existed carry raw tokens; those only
      // under-match for values containing \ \t \n \r \x01, which no
      // pre-existing table of ours has — new tables are born escaped.)
      val mine: Set[String] = slice match {
        case Some((_, (_, _, sliceMine))) => sliceMine
        case None =>
          if (w.partitions.isEmpty) Set("*") else w.partitions.map(escapeVal).toSet
      }
      val staging = stage(w.root, mine) { s =>
        slice match {
          case Some((pcol, (vals, tokenSafe, _))) =>
            // partition-sliced staging (r16): compose (published head
            // minus touched partitions) ∪ df exactly like
            // commitPartitions. The claim phase enforces slot
            // contiguity with the composed-against version.
            composeSliceStaging(spark, w.root, w.df, pcol, vals, Nil,
              tokenSafe, mine, base, s, Nil, w.setCols, w.setCap, w.bloomCols)
          case None =>
            // an append links the head's files (and its DV) and writes
            // only the batch; a full write is the complete content
            val linked =
              if (!w.appendFiles) Set.empty[String]
              else baseDir(w.root, base)
                .fold(Set.empty[String])(d => linkFrom(d, s, listDataFiles(d)))
            w.df.write.mode("append").parquet(s.toString)
            if (!Files.exists(schemaFile(s))) writeSchemaSidecar(s, w.df.schema)
            // the linked files were valid when published: an append
            // judges only the files it wrote
            if (!w.appendFiles) validateConstraints(spark, w.root, s)
            else checkConstraints(w.root)(sidecarReader(spark, s).parquet(
              listDataFiles(s).filterNot(linked).map(s.resolve(_).toString): _*))
            writeManifests(spark, s, baseDir(w.root, base), linked,
              Nil, w.setCols, w.setCap, w.bloomCols)
        }
      }
      staged += ((w, staging, mine, if (slice.isDefined) base else -1))
    } catch { case e: Throwable => dropStagings(); throw e }
    // ---- 2. claim a slot per table (CAS + conflict check) ----------
    val claimed = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    def rollbackClaims(): Unit = claimed.foreach { case (root, v) =>
      backend.abortClaim(root, v)
    }
    val versions: Seq[(TableWrite, Path, Int)] =
      try staged.toSeq.map { case (w, staging, mine, stagedBase) =>
        var attempt = 0
        var slot = -1
        while (slot < 0) {
          val base = headVersion(w.root)
          checkStale(w.root, w.readVersion, base, mine,
            s"transaction write to ${w.root}")
          val next = base + 1
          // sliced staging composed untouched partitions from the
          // PUBLISHED head it read; a claim landing anywhere but the
          // very next slot means another writer is in flight whose
          // rows the composition cannot carry — abort rather than
          // publish a version missing them (commitPartitions' own
          // loop waits for contiguity; a multi-table transaction
          // cannot hold claims while waiting without deadlock risk,
          // so it surfaces the conflict for the caller to retry)
          if (stagedBase >= 0 && next != stagedBase + 1)
            throw new SnapshotConflict(
              s"sliced transaction write to ${w.root} composed against " +
                s"v$stagedBase but the next slot is v$next (concurrent " +
                "writer in flight); re-read and re-derive")
          if (backend.claim(w.root, next, claimFile(staging))) {
            claimed += ((w.root, next))
            slot = next
          } else {
            attempt += 1
            if (attempt >= ClaimAttempts)
              throw new SnapshotConflict(
                s"lost the claim race $ClaimAttempts times at ${w.root}")
          }
        }
        (w, staging, slot)
      }
      catch {
        case e: Throwable => rollbackClaims(); dropStagings(); throw e
      }
    // ---- 3. durable intent, then the atomic decision point ---------
    val recId = java.util.UUID.randomUUID().toString
    val stagedRec = Paths.get(txnDir, s"txn-$recId.staged")
    val decidedRec = Paths.get(txnDir, s"txn-$recId.decided")
    try {
      Files.writeString(stagedRec, versions.map { case (w, staging, v) =>
        s"${w.root}\t$v\t$staging"
      }.mkString("\n"))
      failpoint("after-intent")
      Files.move(stagedRec, decidedRec, StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case c: SimulatedCrash => throw c // test-only: die with state intact
      case e: Throwable =>
        // undecided: nothing visible yet — full rollback
        rollbackClaims(); dropStagings(); Files.deleteIfExists(stagedRec)
        throw e
    }
    // ---- 4. publish: decided, so failures roll FORWARD via recover —
    failpoint("after-decision")
    versions.foreach { case (w, staging, v) =>
      backend.publish(w.root, staging, v)
      failpoint("mid-publish")
      backend.advancePointer(w.root, v)
      Files.deleteIfExists(claimFile(staging))
    }
    Files.deleteIfExists(decidedRec)
    // enrolled routing stats (advisory, after publish — same contract
    // as the single-table hooks): an append folds exactly its delta,
    // a full write recomputes
    versions.foreach { case (w, _, v) =>
      if (w.appendFiles)
        TableStats.maintainPartitionOverwrite(spark, w.root, v, w.df, None)
      else TableStats.maintainFull(spark, w.root, v)
    }
    versions.map { case (w, _, v) => w.root -> v }.toMap
  }

  /** Scan the transaction log and repair interrupted transactions:
    * `.staged` → roll back, `.decided` → roll forward. Idempotent.
    * Returns (rolledForward, rolledBack) transaction counts.
    */
  def recover(txnDir: String): (Int, Int) = {
    val dir = Paths.get(txnDir)
    if (!Files.isDirectory(dir)) return (0, 0)
    val recs = {
      val s = Files.list(dir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("txn-") && (n.endsWith(".staged") || n.endsWith(".decided"))
      }.toVector
      finally s.close()
    }
    var fwd = 0
    var back = 0
    recs.foreach { rec =>
      val entries = Files.readString(rec).linesIterator.flatMap { line =>
        line.split('\t') match {
          case Array(root, v, staging) if v.toIntOption.isDefined =>
            Some((root, v.toInt, Paths.get(staging)))
          case _ => None
        }
      }.toVector
      if (rec.getFileName.toString.endsWith(".staged")) {
        // undecided: no data dir was ever renamed in — delete stagings
        // and dead claims, nothing was visible
        entries.foreach { case (root, v, staging) =>
          discard(staging)
          Files.deleteIfExists(markerFile(root, v))
          ()
        }
        back += 1
      } else {
        // decided: finish what commitAll started, step by step
        entries.foreach { case (root, v, staging) =>
          val live = Paths.get(root, s"v=$v")
          if (!Files.exists(live) && Files.exists(staging))
            Files.move(staging, live, StandardCopyOption.ATOMIC_MOVE)
          if (Files.exists(live)) advancePointer(root, v)
          Files.deleteIfExists(claimFile(staging))
          ()
        }
        fwd += 1
      }
      Files.deleteIfExists(rec)
    }
    (fwd, back)
  }
}
