package graft.events

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operators a training-data pipeline runs over behavioral
  * logs: gap-based sessionization and the as-of (most-recent-at-or-
  * before) join. Neither exists in the reference (its data model is
  * documents, not events) — they extend the engine the same way the
  * dedup family does, as first-class scale-shaped operators.
  *
  * Scale shape (both): ONE exchange, hash-partitioned by the entity
  * key, then a per-partition sort and one pass over it (a running
  * expression for sessionize, a window for the as-of join) — the
  * canonical distributed form. The alternative as-of formulations
  * (range θ-join, per-probe correlated subquery) explode to |probe|×|ref| comparisons per key;
  * the union + last-carried-forward window is linear in the merged
  * stream and never builds a candidate pair set. Timestamps are
  * compared in integer microseconds (unix_micros / epoch_us), so
  * engines agree exactly and the session predicate is associative-free
  * integer math.
  */
object EventOps {

  /** Integer microseconds of a timestamp column; parquet TIMESTAMP_NTZ
    * is cast through TIMESTAMP first (unix_micros rejects NTZ). That
    * cast interprets NTZ wall-clock in the SESSION time zone — for any
    * zone with DST the shift is NOT constant, so a gap spanning a
    * transition would miscount by the DST delta (silently merging or
    * splitting sessions). NTZ input therefore REQUIRES a UTC session —
    * the same fixed-offset interpretation DuckDB's epoch_us applies —
    * rather than guessing; TIMESTAMP (LTZ) input is epoch-based and
    * works under any session zone.
    */
  private def micros(events: DataFrame, tsCol: String): Column = {
    requireSafeTz(events.schema(tsCol).dataType, events.sparkSession, tsCol)
    unix_micros(col(tsCol).cast("timestamp"))
  }

  /** NTZ wall-clock is only gap-safe under a zone with NO offset
    * transitions (UTC, GMT, any fixed ±hh:mm) — checked via the zone's
    * rules, not a string compare, so Etc/UTC and +02:00 pass. Zones
    * with any transition (even purely historical ones) throw: an old
    * timestamp pair spanning one would still miscount.
    */
  private[graft] def requireSafeTz(dt: org.apache.spark.sql.types.DataType,
      spark: org.apache.spark.sql.SparkSession, tsCol: String): Unit = {
    if (dt == org.apache.spark.sql.types.TimestampNTZType) {
      val tz = spark.sessionState.conf.sessionLocalTimeZone
      val fixed = java.time.ZoneId.of(tz).getRules.isFixedOffset
      require(fixed,
        s"column '$tsCol' is TIMESTAMP_NTZ and the session time zone" +
          s" '$tz' has offset (DST/historical) transitions — wall-clock" +
          " gaps across one would miscount. Set" +
          " spark.sql.session.timeZone=UTC (or any fixed-offset zone)" +
          " or supply a TIMESTAMP (with time zone) column.")
    }
  }

  /** Gap-based sessionization: within each `keyCol`, events ordered by
    * (ts, idCol) start a new session when the gap from the previous
    * event exceeds `gapSeconds`. Output adds `session_idx` — the
    * 0-based session ordinal per key (first session = 0).
    *
    * One shuffle by key, one sort by (key, ts, id) within each
    * partition, and [[SessionIndex]] folds the gap rule over the sorted
    * stream in the sort's whole-stage span — the `lag` inside a running
    * `sum` it replaces planned two window operators (18 generated
    * classes to this form's 7). Skewed keys (a bot user with millions
    * of events) are bounded by the fold being per-key sequential — at
    * 100 TB, cap per-key history upstream or split sessions at day
    * boundaries first.
    */
  def sessionize(events: DataFrame, keyCol: String = "user_id",
      tsCol: String = "ts", idCol: String = "event_id",
      gapSeconds: Long = 1800L): DataFrame = {
    import org.apache.spark.sql.GraftExprBridge.{toColumn, toExpression}
    val idx = SessionIndex(toExpression(col(keyCol)), toExpression(micros(events, tsCol)),
      gapSeconds * 1000000L)
    events.repartition(col(keyCol))
      .sortWithinPartitions(col(keyCol), col(tsCol), col(idCol))
      .withColumn("session_idx", toColumn(idx))
  }

  /** Per-session rollup: (key, session_idx) → event count, duration in
    * integer microseconds, value sum in integer micro-units (exact,
    * associative — see window_agg). The second exchange is by (key,
    * session_idx), carrying only the partial aggregates.
    */
  def sessionStats(events: DataFrame, keyCol: String = "user_id",
      tsCol: String = "ts", idCol: String = "event_id",
      valueCol: String = "value", gapSeconds: Long = 1800L): DataFrame =
    sessionize(events, keyCol, tsCol, idCol, gapSeconds)
      .groupBy(col(keyCol), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        (max(micros(events, tsCol)) - min(micros(events, tsCol)))
          .as("duration_us"),
        sum(round(col(valueCol) * 1000000).cast("long")).cast("double")
          .as("value_micros"))

  /** As-of join: for every probe row, the LATEST ref row with ref.ts ≤
    * probe.ts on the same key (inclusive; among equal-ts ref rows the
    * greatest ref id wins — the ordering makes the pick deterministic).
    * Probe rows with no prior ref row keep NULL.
    *
    * Formulation: tag ref=0 / probe=1, union-align the schemas, one
    * window over (key ORDER BY ts, tag, id) carrying the last non-null
    * ref payload forward, keep the probe rows. `refCols` name the ref
    * payload columns to carry; they surface as `asof_<name>`.
    *
    * The payload travels as ONE struct — a ref row's struct is non-null
    * even when every field in it is null, so the window carries whole
    * ROWS. Per-column last(ignoreNulls) would skip a null field back to
    * an OLDER ref row and stitch together fields no single ref row ever
    * held.
    */
  def asofJoin(probe: DataFrame, ref: DataFrame, keyCol: String,
      tsCol: String, idCol: String, refCols: Seq[String]): DataFrame = {
    val probeCols = probe.columns.toSeq
    val reserved = Set("_tag", "_asof")
    require(!(probeCols ++ ref.columns).exists(reserved),
      s"asofJoin reserves column names ${reserved.mkString(", ")} for its" +
        " internal union tag and carried payload — rename the conflicting" +
        " input column")
    val carried = refCols.map(c => s"asof_$c")
    val payload = struct(refCols.map(c => col(c).as(s"asof_$c")): _*)
    val payloadType = org.apache.spark.sql.types.StructType(
      refCols.map(c => org.apache.spark.sql.types.StructField(
        s"asof_$c", ref.schema(c).dataType)))
    // union-aligned schema: key/ts/id + tag + probe payload + ref struct
    val refLeg = ref.select(
      Seq(col(keyCol), col(tsCol), col(idCol), lit(0).as("_tag")) ++
        probeCols.filterNot(Seq(keyCol, tsCol, idCol).contains)
          .map(c => lit(null).cast(probe.schema(c).dataType).as(c)) ++
        Seq(payload.as("_asof")): _*)
    val probeLeg = probe.select(
      Seq(col(keyCol), col(tsCol), col(idCol), lit(1).as("_tag")) ++
        probeCols.filterNot(Seq(keyCol, tsCol, idCol).contains).map(col) ++
        Seq(lit(null).cast(payloadType).as("_asof")): _*)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col("_tag"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    refLeg.unionByName(probeLeg)
      .withColumn("_asof", last(col("_asof"), ignoreNulls = true).over(w))
      .filter(col("_tag") === 1)
      .select(col("*") +: carried.map(c => col(s"_asof.$c").as(c)): _*)
      .drop("_tag", "_asof")
  }
}
