package graft.dml

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The warehouse write path — Spark-native form of the reference's
  * `sql/dml.py` (bulk insert / ON CONFLICT skip / upsert / merge with counts /
  * soft delete / batch update / incremental watermark load).
  *
  * PostgreSQL mutates rows in place; Parquet is immutable, so every mutation
  * is a pure `DataFrame => DataFrame` transform plus (optionally) an atomic
  * table rewrite via a staging directory. Keeping the transform pure means
  * Catalyst can fuse it with up/downstream plans, and the same code runs
  * unchanged whether the table is 1 MB or 100 TB (the rewrite parallelizes
  * over output partitions).
  */
object Mutations {

  /** ON CONFLICT DO NOTHING (reference `sql/dml.py:42-93`): rows of `incoming`
    * whose key is not already in `existing`. A left-anti join is the idiomatic
    * decorrelation; at scale this shuffles both sides by key once (or
    * broadcasts `incoming` when it is a small batch — AQE decides).
    */
  def conflictSkip(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** Upsert (reference `sql/dml.py:96-167`): full-outer merge of source into
    * target by `keys`; for each non-key column the source value wins when the
    * source row exists, else the target value is kept.
    *
    * Reference-parity audit semantics: matched rows that take the source value
    * get `updated_at = CURRENT_TIMESTAMP` refreshed when the target has that
    * column, and `updated_by` set when `updatedBy` is given (dml.py:118-133).
    * `updateWhere` is the reference's optional WHERE guard (dml.py:134-151):
    * a matched row only takes source values when the guard holds (reference
    * target columns as `col("t.x")`, source as `col("s.x")`); inserts are
    * unaffected.
    */
  def upsert(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      updatedBy: Option[String] = None,
      updateWhere: Option[Column] = None): DataFrame = {
    val guard = updateWhere.getOrElse(lit(true))
    // unmatched source rows always insert; matched rows update only per guard
    val (joined, cols) = fullOuterMerge("upsert", Nil, target, source, keys, updatedBy)(
      takeSource = (SrcExists && !TgtExists) || (SrcExists && TgtExists && guard),
      isUpdate = SrcExists && TgtExists && guard)
    joined.select(cols: _*) // tag columns are not selected — they vanish here
  }

  // side-existence is decided by a non-null tag column, NOT key nullability:
  // a source row with a NULL first key is still a real (unmatched) row and
  // must insert with its own values, not degrade into an all-target-null row
  private val SrcExists = col("s._s_exists").isNotNull
  private val TgtExists = col("t._t_exists").isNotNull

  /** The shared core of [[upsert]] and [[merge]]: checks that neither side
    * has a `reserved` or tag column (`op` names the caller in the error),
    * tags each side with a non-null existence column, full-outer joins them
    * on `keys` as `t` and `s`, and returns the join with the output columns:
    * each key coalesced source-first, and each other target column the
    * source's value where `takeSource` holds (when the source has the
    * column) else the target's, with `updated_at` (and `updated_by`, when
    * given) refreshed where `isUpdate` holds.
    */
  private def fullOuterMerge(
      op: String,
      reserved: Seq[String],
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      updatedBy: Option[String])(takeSource: Column, isUpdate: Column): (DataFrame, Seq[Column]) = {
    (reserved ++ Seq("_t_exists", "_s_exists")).foreach { r =>
      require(!target.columns.contains(r) && !source.columns.contains(r),
        s"$op reserves column name $r")
    }
    val t = target.withColumn("_t_exists", lit(true)).alias("t")
    val s = source.withColumn("_s_exists", lit(true)).alias("s")
    val joined = t.join(s, keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _), "full_outer")
    val keyCols = keys.map(k => coalesce(col(s"s.$k"), col(s"t.$k")).as(k))
    val valCols = target.columns.filterNot(keys.contains).toSeq.map { c =>
      val base =
        if (source.columns.contains(c)) when(takeSource, col(s"s.$c")).otherwise(col(s"t.$c"))
        else col(s"t.$c")
      val refreshed = c match {
        case "updated_at" => when(isUpdate, current_timestamp()).otherwise(base)
        case "updated_by" if updatedBy.isDefined => when(isUpdate, lit(updatedBy.get)).otherwise(base)
        case _ => base
      }
      refreshed.as(c)
    }
    (joined, keyCols ++ valCols)
  }

  /** Merge action classification (reference `sql/dml.py:283-293`): tag each
    * source row INSERT (no matching target key) or UPDATE (key exists) via a
    * left join + null-check.
    */
  def classifyMerge(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame = {
    val tgtKeys = target.select(keys.map(col): _*).distinct()
      .withColumn("_tgt_exists", lit(true))
    source
      .join(tgtKeys, keys, "left")
      .withColumn("merge_action", when(col("_tgt_exists").isNull, "INSERT").otherwise("UPDATE"))
      .drop("_tgt_exists")
  }

  final case class MergeResult(merged: DataFrame, counts: DataFrame)

  /** Full MERGE (reference `sql/dml.py:248-337`): returns the merged table and
    * the per-action count summary (`merge_action`, `n`) the reference's CTE
    * pipeline emits — INSERT / UPDATE and, when `deleteWhere` is given, DELETE.
    *
    * Branch precedence follows SQL MERGE: a matched row satisfying
    * `deleteWhere` (reference `dml.py:300-336`, WHEN MATCHED AND cond THEN
    * DELETE) is removed from the output and counted `deleted` — evaluated
    * BEFORE the update branch. `deleteWhere` may reference both sides as
    * `col("t.x")` / `col("s.x")`. Matched updates refresh
    * `updated_at`/`updated_by` as in [[upsert]]. One wide full-outer join;
    * counts reuse the same tagged plan.
    */
  def merge(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      deleteWhere: Option[Column] = None,
      updatedBy: Option[String] = None): MergeResult = {
    // same reserved-name discipline as softDelete/batchUpdate: a real
    // _merge_action (or tag) column would be silently overwritten and corrupt
    // both the classification and the output
    val (joined, cols) = fullOuterMerge("merge", Seq("_merge_action"), target, source, keys, updatedBy)(
      takeSource = col("_merge_action").isin("INSERT", "UPDATE"),
      isUpdate = col("_merge_action") === "UPDATE")
    val del = deleteWhere.getOrElse(lit(false))
    val action = when(SrcExists && TgtExists && del, "DELETE")
      .when(SrcExists && TgtExists, "UPDATE")
      .when(SrcExists, "INSERT")
      .otherwise("KEEP") // target-only rows pass through unchanged, uncounted
    val tagged = joined.withColumn("_merge_action", action)
    val merged = tagged
      .where(col("_merge_action") =!= "DELETE")
      .select(cols: _*)
    val counts = tagged
      .where(col("_merge_action") =!= "KEEP")
      .groupBy(col("_merge_action").as("merge_action"))
      .agg(count(lit(1)).as("n"))
    MergeResult(merged, counts)
  }

  /** Soft delete (reference `sql/dml.py:170-203`): flip `is_deleted` where the
    * predicate holds; refresh audit columns on affected rows only.
    */
  def softDelete(df: DataFrame, cond: Column, deletedBy: String): DataFrame = {
    // materialize the predicate against the INPUT row first: the rewrites
    // below may change columns the predicate reads (e.g. cond mentioning
    // is_deleted), and re-evaluating it post-rewrite would target the wrong
    // rows
    val condCol = "_graft_cond"
    require(!df.columns.contains(condCol), s"softDelete reserves column name $condCol")
    val base0 =
      if (df.columns.contains("is_deleted")) df
      else df.withColumn("is_deleted", lit(false))
    val base = base0.withColumn(condCol, cond)
    val hit = col(condCol)
    val flagged = base.withColumn("is_deleted", when(hit, lit(true)).otherwise(col("is_deleted")))
    val withAudit =
      if (df.columns.contains("updated_at"))
        flagged
          .withColumn("updated_at", when(hit, current_timestamp()).otherwise(col("updated_at")))
          .withColumn("updated_by", when(hit, lit(deletedBy)).otherwise(col("updated_by")))
      else flagged
    withAudit.drop(condCol)
  }

  /** Batch update (reference `sql/dml.py:206-245`): SET col = expr WHERE cond.
    * Affected rows additionally get `updated_at = CURRENT_TIMESTAMP` (and
    * `updated_by` when given) refreshed when those columns exist — the
    * reference's automatic metadata refresh (dml.py:226-239).
    */
  def batchUpdate(
      df: DataFrame,
      set: Map[String, Column],
      cond: Column,
      updatedBy: Option[String] = None): DataFrame = {
    // evaluate the predicate against the INPUT row before any SET rewrite:
    // when cond references a column in the set map (e.g. SET status WHERE
    // status = 'active'), re-evaluating it after the rewrite would skip the
    // audit refresh on exactly the rows just updated
    val condCol = "_graft_cond"
    require(!df.columns.contains(condCol), s"batchUpdate reserves column name $condCol")
    val base = df.withColumn(condCol, cond)
    val hit = col(condCol)
    val withSet = set.foldLeft(base) { case (acc, (c, e)) =>
      acc.withColumn(c, when(hit, e).otherwise(col(c)))
    }
    val withAt =
      if (df.columns.contains("updated_at") && !set.contains("updated_at"))
        withSet.withColumn("updated_at", when(hit, current_timestamp()).otherwise(col("updated_at")))
      else withSet
    val withBy = updatedBy match {
      case Some(u) if df.columns.contains("updated_by") && !set.contains("updated_by") =>
        withAt.withColumn("updated_by", when(hit, lit(u)).otherwise(col("updated_by")))
      case _ => withAt
    }
    withBy.drop(condCol)
  }

  /** Incremental watermark load (reference `sql/dml.py:340-391`): rows past
    * the watermark, oldest-first, capped at `batchSize`. The watermark filter
    * pushes down to the parquet scan; with the table partitioned by the
    * watermark date (see TableWriter), partition pruning skips all settled
    * partitions — the scan cost is proportional to the new data, not the
    * table size.
    */
  def incrementalLoad(
      src: DataFrame,
      watermark: Column,
      lastValue: Column,
      orderTieBreak: Seq[Column],
      batchSize: Int): DataFrame =
    src
      .where(watermark > lastValue)
      .orderBy(watermark +: orderTieBreak: _*)
      .limit(batchSize)

  /** Atomic overwrite of a parquet table via staging + swap (the "mutation on
    * immutable storage" pattern, SURVEY §7.5-1). The result is materialized to
    * `<path>__staging` first, so a mid-write failure never corrupts the live
    * table; the swap is two renames.
    */
  def overwriteTable(spark: SparkSession, df: DataFrame, path: String): Unit = {
    val staging = path + "__staging"
    val old = path + "__old"
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val stagingPath = new org.apache.hadoop.fs.Path(staging)
    val oldPath = new org.apache.hadoop.fs.Path(old)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // A leftover __old means a prior swap died mid-flight: refuse to proceed
    // rather than silently shadowing (or later deleting) the only good copy.
    if (fs.exists(oldPath))
      throw new IllegalStateException(
        s"$old exists — a previous overwrite did not complete; recover it before retrying")
    df.write.mode(SaveMode.Overwrite).parquet(staging)
    if (fs.exists(hadoopPath) && !fs.rename(hadoopPath, oldPath))
      throw new java.io.IOException(s"failed to move live table $path aside to $old")
    if (!fs.rename(stagingPath, hadoopPath)) {
      // put the live table back before failing so readers see the old data
      if (fs.exists(oldPath)) fs.rename(oldPath, hadoopPath)
      throw new java.io.IOException(s"failed to promote staging $staging to $path")
    }
    // only after the swap is confirmed is the backup disposable
    fs.delete(oldPath, true)
  }

  /** Incremental refresh of an ADDITIVE materialized aggregate: fold a
    * delta's partial aggregate into the persisted state without touching
    * the base facts — the gold-tier twin of the index-refresh loops
    * (DocStream's content-hash/MinHash/embedding tiers), built on the
    * same algebra: counts and sums are commutative monoids, so
    * `agg(base ∪ delta) = merge(agg(base), agg(delta))` EXACTLY, and a
    * daily refresh is delta-sized work instead of a 100 TB rescan.
    * (AVG and other ratios derive from the folded sums at read time;
    * non-additive aggregates — MIN/MAX under deletes, DISTINCT — need a
    * different state and do NOT belong here.)
    *
    * Both inputs carry the same schema: `keys ++ measureCols`, where every
    * measure is already a partial aggregate (a count or a sum — for exact
    * money, the q03 decimal contract). One map-side-combined groupBy over
    * |state| + |delta| rows — at steady state both are aggregate-sized,
    * never fact-sized.
    *
    * Every folded measure is cast BACK to the state column's exact data
    * type: `sum(decimal(12,2))` widens to decimal(22,2) and would widen
    * again on every refresh cycle, drifting the persisted parquet schema
    * for downstream readers — the state schema is the contract, so the
    * caller must size each measure's precision to hold the running total
    * (an overflowing fold is a mis-declared state, not a wider one).
    */
  def foldAdditiveAggregate(
      state: DataFrame,
      deltaPartial: DataFrame,
      keys: Seq[String],
      measureCols: Seq[String]): DataFrame = {
    require(measureCols.nonEmpty, "foldAdditiveAggregate needs at least one measure column")
    val stateType = state.schema.fields.map(f => f.name -> f.dataType).toMap
    val merged = state.unionByName(deltaPartial.select(state.columns.map(col): _*))
    // integral measures accumulate in decimal(38,0): a BIGINT sum() keeps
    // the BIGINT type, so near Long.MaxValue it either wraps silently
    // (ANSI off) or throws its own opaque error — widening first lets the
    // guard below own the failure; decimals already widen in sum(),
    // doubles have no overflow to guard
    def wideSum(c: String) = stateType(c) match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
        sum(col(c).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
      case _ => sum(col(c))
    }
    // narrowing an overflowing running total would yield a silent NULL
    // under non-ANSI casts and destroy the persisted state — detect the
    // wide-sum-present/narrow-cast-null combination and fail loudly
    def narrowed(c: String) = {
      val wide = col(c)
      // try_cast, not cast: null-on-overflow regardless of ANSI mode, so
      // the guard below owns the failure with an actionable message
      val attempt = wide.try_cast(stateType(c).sql)
      when(wide.isNotNull && attempt.isNull,
        raise_error(lit(s"foldAdditiveAggregate: running total overflows the state type of '$c' — widen the declared measure")))
        .otherwise(attempt).as(c)
    }
    merged
      .groupBy(keys.map(col): _*)
      .agg(
        wideSum(measureCols.head).as(measureCols.head),
        measureCols.tail.map(c => wideSum(c).as(c)): _*)
      .select(keys.map(col) ++ measureCols.map(narrowed): _*)
  }
}
