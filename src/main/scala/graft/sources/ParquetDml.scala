package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DML over plain partitioned parquet: DELETE / UPDATE / MERGE INTO
  * expressed as partition-pruned rewrites (SURVEY.md "what's missing"
  * closure: no transactional table format ships in this sandbox, so
  * this is the copy-on-write shape those formats automate, done
  * explicitly and safely on directory-partitioned parquet).
  *
  * Scale contract — the whole point at 100 TB:
  *   1. Find the AFFECTED partitions (for MERGE: the distinct
  *      partition values of the SOURCE, usually a tiny set; for
  *      DELETE/UPDATE: partition values matching the predicate).
  *   2. Read ONLY those partitions (partition pruning on the scan),
  *      apply the change, and rewrite ONLY those directories via
  *      dynamic partition overwrite.
  * Untouched partitions are never read and never rewritten. A MERGE
  * of a day's upserts into a years-deep table costs one day's
  * partitions, not a table rewrite.
  *
  * Requires `spark.sql.sources.partitionOverwriteMode=dynamic` for
  * the overwrite to replace only the partitions present in the output
  * (set per-write here via option, leaving session conf untouched).
  *
  * Non-goals, honestly: no snapshot isolation, no concurrent writers,
  * no time travel — that is what Delta/Iceberg/Hudi add on top of
  * exactly this rewrite. The read-then-overwrite hazard (Spark cannot
  * overwrite a path it is lazily reading) is broken here with an
  * eager pin of the rewritten slice.
  */
object ParquetDml {

  import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

  /** Null-safe partition membership: `isin` compares with `=` and so
    * never matches a NULL partition value; rows living in the
    * `__HIVE_DEFAULT_PARTITION__` directory would silently escape
    * every DML. Split the null case into an explicit `isNull` branch.
    */
  private def partitionIn(partitionCol: String, vals: Seq[Any]): Column = {
    val (nulls, nonNulls) = vals.partition(_ == null)
    val branches =
      (if (nonNulls.nonEmpty) Seq(col(partitionCol).isin(nonNulls: _*)) else Nil) ++
      (if (nulls.nonEmpty) Seq(col(partitionCol).isNull) else Nil)
    branches.reduceOption(_ || _).getOrElse(lit(false))
  }

  /** Directory name for a partition value, matching what Spark's
    * writer produces: %-escaped special characters and the Hive
    * default-partition sentinel for NULL. Without this, cleanup of a
    * fully-deleted partition with e.g. a ':' or space in the value
    * (or a NULL) would target a directory that does not exist and
    * leave the real one stale.
    */
  private def partitionDirName(partitionCol: String, v: Any): String = {
    val s = if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
            else ExternalCatalogUtils.escapePathName(v.toString)
    s"${ExternalCatalogUtils.escapePathName(partitionCol)}=$s"
  }

  private def dynamicOverwrite(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path)

  /** DELETE FROM table WHERE cond. Rewrites only partitions that
    * contain matching rows.
    */
  def delete(spark: SparkSession, path: String, partitionCol: String,
      cond: Column): Unit = {
    val t = spark.read.parquet(path)
    // partitions holding at least one doomed row (small driver list —
    // bounded by partition count, never by row count)
    val affected = t.filter(cond).select(partitionCol).distinct().collect()
      .map(_.get(0)).toSeq
    if (affected.nonEmpty) {
      val kept = t
        .filter(partitionIn(partitionCol, affected)) // pruned scan
        .filter(!coalesce(cond, lit(false)))         // survivors only
      // dynamic overwrite only rewrites partitions PRESENT in the
      // output — a fully-deleted partition would survive as stale
      // files. Materialize the survivor set first (an eager pin: also
      // guards against reading the directory we are overwriting),
      // then drop now-empty partition directories explicitly.
      graft.Artifacts.pinned(kept, eager = true) { keptM =>
        val surviving = keptM.select(partitionCol).distinct().collect()
          .map(_.get(0)).toSet
        if (surviving.nonEmpty) dynamicOverwrite(keptM, path, partitionCol)
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        affected.filterNot(surviving).foreach { v =>
          fs.delete(new org.apache.hadoop.fs.Path(path, partitionDirName(partitionCol, v)), true)
        }
      }
    }
  }

  /** UPDATE table SET col = expr WHERE cond. `sets` maps column name
    * to new-value expression; rewrites only affected partitions.
    * The partition column itself must not be updated (a partition
    * move is a delete+insert — do it as such).
    */
  def update(spark: SparkSession, path: String, partitionCol: String,
      cond: Column, sets: Map[String, Column]): Unit = {
    require(!sets.contains(partitionCol),
      s"updating partition column '$partitionCol' is a delete+insert, not an update")
    val t = spark.read.parquet(path)
    val affected = t.filter(cond).select(partitionCol).distinct().collect()
      .map(_.get(0)).toSeq
    if (affected.nonEmpty) {
      // SQL UPDATE semantics: WHERE and every SET expression see the
      // ORIGINAL row. A withColumn-per-set fold would re-resolve cond
      // and later set expressions against already-updated columns
      // (e.g. SET price = price*2, flag = price > 100 would read the
      // doubled price). One select over the original slice binds
      // everything to pre-update values.
      val slice = t.filter(partitionIn(partitionCol, affected))
      val matched = coalesce(cond, lit(false))
      val rewritten = slice.select(t.columns.toSeq.map { c =>
        sets.get(c) match {
          case Some(e) => when(matched, e).otherwise(col(c)).as(c)
          case None    => col(c)
        }
      }: _*)
      // materialize before overwriting the path being read (see delete)
      graft.Artifacts.pinned(rewritten, eager = true)(
        dynamicOverwrite(_, path, partitionCol))
    }
  }

  /** MERGE INTO target USING source ON target.key = source.key
    * WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT * —
    * the upsert shape a pipeline needs. Source must carry the full
    * target schema (including the partition column). Only partitions
    * present in the SOURCE are read and rewritten; matched rows are
    * replaced by their source version, unmatched source rows are
    * inserted.
    *
    * Rows whose key matches but whose partition value CHANGED in the
    * source are handled (old row dropped from its old partition, new
    * row written to its new one) only when both partitions are in the
    * source's partition set; a true partition-move upsert against a
    * source that omits the old partition requires a key→partition
    * index (that is the lookup Delta/Iceberg do with stats/indexes).
    */
  def merge(spark: SparkSession, path: String, partitionCol: String,
      source: DataFrame, key: String): Unit = {
    val t = spark.read.parquet(path)
    require(source.columns.sorted.sameElements(t.columns.sorted),
      s"merge source schema ${source.columns.mkString(",")} must match target ${t.columns.mkString(",")}")
    // Name match alone lets a type-mismatched source silently corrupt
    // the rewritten partitions (unionByName would cast or fail late).
    val targetTypes = t.schema.map(f => f.name -> f.dataType).toMap
    source.schema.foreach { f =>
      require(targetTypes(f.name) == f.dataType,
        s"merge source column '${f.name}' has type ${f.dataType}, target has ${targetTypes(f.name)}")
    }
    // SQL MERGE raises when a target row matches multiple source rows;
    // a duplicate-keyed source here would both replace and re-insert.
    require(source.groupBy(key).count().filter(col("count") > 1).isEmpty,
      s"merge source has duplicate values for key '$key'")
    val affected = source.select(partitionCol).distinct().collect()
      .map(_.get(0)).toSeq
    if (affected.nonEmpty) {
      val targetSlice = t.filter(partitionIn(partitionCol, affected))
      // survivors: target rows in affected partitions whose key has no
      // source version (left_anti = the NOT-matched-target branch)
      val survivors = targetSlice.join(source.select(key), Seq(key), "left_anti")
      // matched updates + not-matched inserts are both just "the source
      // row wins" under UPDATE SET * / INSERT *
      val merged = survivors.select(t.columns.map(col).toSeq: _*)
        .unionByName(source.select(t.columns.map(col).toSeq: _*))
      // materialize before overwriting the path being read (see delete)
      graft.Artifacts.pinned(merged, eager = true)(
        dynamicOverwrite(_, path, partitionCol))
    }
  }
}
