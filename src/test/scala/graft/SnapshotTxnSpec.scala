package graft

import graft.sources.{SnapshotTable, SnapshotTransaction, TableWrite}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-table transactions: all-or-nothing commit across snapshot
  * tables, conflict aborts with full claim rollback, and crash
  * recovery from the write-ahead intent log (undecided → roll back,
  * decided → roll forward).
  */
class SnapshotTxnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fresh(prefix: String): (String, String, String) = {
    val base = java.nio.file.Paths.get(Artifacts.exitRoot(prefix))
    (base.resolve("a").toString, base.resolve("b").toString,
      base.resolve("_txn").toString)
  }

  private def nation = Tables.nation(spark, TestSpark.sf0001)
  private def region = Tables.region(spark, TestSpark.sf0001)

  test("two tables commit atomically; version vector returned") {
    val (a, b, txn) = fresh("graft-txn")
    val v = SnapshotTransaction.commitAll(spark, txn,
      Seq(TableWrite(a, nation), TableWrite(b, region)))
    assert(v === Map(a -> 1, b -> 1))
    assert(SnapshotTable.read(spark, a).count() === 25L)
    assert(SnapshotTable.read(spark, b).count() === 5L)
    // second transaction advances both in lockstep
    val v2 = SnapshotTransaction.commitAll(spark, txn, Seq(
      TableWrite(a, nation.withColumn("n_name", upper(col("n_name"))),
        readVersion = 1),
      TableWrite(b, region.filter(col("r_regionkey") < 3), readVersion = 1)))
    assert(v2 === Map(a -> 2, b -> 2))
    assert(SnapshotTable.read(spark, b).count() === 3L)
    assert(SnapshotTable.read(spark, b, version = 1).count() === 5L) // time travel intact
  }

  test("a transaction checks CHECK constraints on full and appended writes") {
    val (a, b, txn) = fresh("graft-txn-check")
    SnapshotTransaction.commitAll(spark, txn,
      Seq(TableWrite(a, nation), TableWrite(b, region)))
    SnapshotTable.addConstraint(a, "small_keys", "n_nationkey < 100")
    val shifted = nation.withColumn("n_nationkey", col("n_nationkey") + 100)
    intercept[SnapshotTable.ConstraintViolation] {
      SnapshotTransaction.commitAll(spark, txn,
        Seq(TableWrite(a, shifted), TableWrite(b, region)))
    }
    intercept[SnapshotTable.ConstraintViolation] {
      SnapshotTransaction.commitAll(spark, txn, Seq(
        TableWrite(a, shifted.limit(1), appendFiles = true),
        TableWrite(b, region.limit(2))))
    }
    assert(SnapshotTable.currentVersion(a) === 1)
    assert(SnapshotTable.currentVersion(b) === 1)
    // an append judges only the rows it adds: the linked files were
    // valid when published, even against a constraint added later
    SnapshotTable.addConstraint(a, "positive_keys", "n_nationkey > 0")
    val v = SnapshotTransaction.commitAll(spark, txn,
      Seq(TableWrite(a, nation.filter(col("n_nationkey") === 5), appendFiles = true)))
    assert(v === Map(a -> 2))
    assert(SnapshotTable.read(spark, a).count() === 26L)
  }

  test("conflict on one table aborts the whole transaction cleanly") {
    val (a, b, txn) = fresh("graft-txn-conflict")
    SnapshotTransaction.commitAll(spark, txn,
      Seq(TableWrite(a, nation), TableWrite(b, region)))
    // an unrelated writer lands v2 on `a` — our readVersion=1 is stale
    SnapshotTable.commit(spark, a, nation.filter(col("n_nationkey") < 10))
    intercept[SnapshotTable.SnapshotConflict] {
      SnapshotTransaction.commitAll(spark, txn, Seq(
        TableWrite(a, nation, readVersion = 1),
        TableWrite(b, region.limit(2), readVersion = 1)))
    }
    // nothing moved, no poisoned slots: b still at v1, and a fresh
    // transaction on both tables commits at the next free versions
    assert(SnapshotTable.currentVersion(a) === 2)
    assert(SnapshotTable.currentVersion(b) === 1)
    val v = SnapshotTransaction.commitAll(spark, txn, Seq(
      TableWrite(a, nation, readVersion = 2),
      TableWrite(b, region.limit(2), readVersion = 1)))
    assert(v === Map(a -> 3, b -> 2))
  }

  test("crash before the decision point rolls back via recover") {
    val (a, b, txn) = fresh("graft-txn-crashback")
    SnapshotTransaction.commitAll(spark, txn,
      Seq(TableWrite(a, nation), TableWrite(b, region)))
    SnapshotTransaction.failpoint =
      at => if (at == "after-intent") throw SnapshotTransaction.SimulatedCrash(at)
    try {
      intercept[SnapshotTransaction.SimulatedCrash] {
        SnapshotTransaction.commitAll(spark, txn, Seq(
          TableWrite(a, nation.limit(5)), TableWrite(b, region.limit(1))))
      }
    } finally SnapshotTransaction.failpoint = _ => ()
    val (fwd, back) = SnapshotTransaction.recover(txn)
    assert(fwd === 0 && back === 1)
    // versions unchanged, dead claims swept: the next transaction
    // reuses the freed slots
    assert(SnapshotTable.currentVersion(a) === 1)
    assert(SnapshotTable.currentVersion(b) === 1)
    val v = SnapshotTransaction.commitAll(spark, txn,
      Seq(TableWrite(a, nation.limit(5)), TableWrite(b, region.limit(1))))
    assert(v === Map(a -> 2, b -> 2))
    assert(SnapshotTable.read(spark, a).count() === 5L)
  }

  test("crash mid-publish rolls forward via recover") {
    val (a, b, txn) = fresh("graft-txn-crashfwd")
    SnapshotTransaction.commitAll(spark, txn,
      Seq(TableWrite(a, nation), TableWrite(b, region)))
    // die after the FIRST table's data rename, before its pointer
    // flip and before the second table publishes at all
    var hits = 0
    SnapshotTransaction.failpoint = at =>
      if (at == "mid-publish") {
        hits += 1
        if (hits == 1) throw SnapshotTransaction.SimulatedCrash(at)
      }
    try {
      intercept[SnapshotTransaction.SimulatedCrash] {
        SnapshotTransaction.commitAll(spark, txn, Seq(
          TableWrite(a, nation.limit(7)), TableWrite(b, region.limit(2))))
      }
    } finally SnapshotTransaction.failpoint = _ => ()
    // decided but unfinished: table pointers have not both advanced
    val (fwd, back) = SnapshotTransaction.recover(txn)
    assert(fwd === 1 && back === 0)
    assert(SnapshotTable.currentVersion(a) === 2)
    assert(SnapshotTable.currentVersion(b) === 2)
    assert(SnapshotTable.read(spark, a).count() === 7L)
    assert(SnapshotTable.read(spark, b).count() === 2L)
    // recovery is idempotent
    assert(SnapshotTransaction.recover(txn) === ((0, 0)))
  }

  test("txn partition claims escape framing chars: newline token still conflicts") {
    // Regression (r11): commitAll wrote RAW partition tokens while
    // commit()/commitPartitions escape theirs — a token carrying a
    // newline split the txn manifest into bogus entries and never
    // string-matched the escaped probe, silently missing the overlap
    // (lost update). Both directions of the check must see it.
    val (a, b, txn) = fresh("graft-txn-esc")
    SnapshotTransaction.commitAll(spark, txn,
      Seq(TableWrite(a, nation), TableWrite(b, region)))
    val evil = "p=x\ny\tz\\w" // newline + tab + backslash in one token
    SnapshotTransaction.commitAll(spark, txn, Seq(
      TableWrite(a, nation.limit(3), partitions = Seq(evil), readVersion = 1)))
    // single-table writer based on v1 touching the SAME partition: conflict
    intercept[SnapshotTable.SnapshotConflict] {
      SnapshotTable.commit(spark, a, nation.limit(1),
        partitions = Seq(evil), readVersion = 1)
    }
    // a DISJOINT framing-char token based on the same stale version: lands
    SnapshotTable.commit(spark, a, nation.limit(1),
      partitions = Seq("p=other\nz"), readVersion = 1)
    assert(SnapshotTable.currentVersion(a) === 3)
    // and the reverse direction: a txn based on v2 must see the
    // single-table v3 claim for its own newline token
    intercept[SnapshotTable.SnapshotConflict] {
      SnapshotTransaction.commitAll(spark, txn, Seq(
        TableWrite(a, nation.limit(2),
          partitions = Seq("p=other\nz"), readVersion = 2)))
    }
  }

  test("retrying re-runs a conflicting body, gives up after 20 runs, passes other errors") {
    def conflict(i: Int) = new SnapshotTable.SnapshotConflict(s"conflict $i")
    var runs = 0
    val v = SnapshotTable.retrying {
      runs += 1
      if (runs <= 3) throw conflict(runs)
      runs * 10
    }
    assert(runs === 4 && v === 40)
    // the give-up bound: every run conflicts, so the 20th conflict
    // propagates (after ~9.5 s of back-off between the runs)
    runs = 0
    val last = intercept[SnapshotTable.SnapshotConflict] {
      SnapshotTable.retrying[Int] { runs += 1; throw conflict(runs) }
    }
    assert(runs === 20)
    assert(last.getMessage === "conflict 20")
    runs = 0
    intercept[IllegalStateException] {
      SnapshotTable.retrying[Int] { runs += 1; throw new IllegalStateException("boom") }
    }
    assert(runs === 1)
  }
}
