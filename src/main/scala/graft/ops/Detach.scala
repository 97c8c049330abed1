package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The bounded detach-to-LocalRelation contract, in ONE place (it was
  * re-implemented inline by curate, curateDelta and Graphs.detachSmall,
  * and the three copies had already started to drift):
  *
  *  - fetch `cap + 1` rows in one pass — one extra row is how the guard
  *    distinguishes "exactly cap" from "more than cap" without a count
  *    job, and the caller pre-sizes `spark.sql.limit.initialNumPartitions`
  *    when the incremental limit-collect would pay retry passes;
  *  - fail LOUDLY on overflow — detaching is for results known bounded
  *    (reports, nation-level graphs, test harnesses); silently collecting
  *    an unbounded corpus to the driver is the bug this guard exists for.
  *    A caller with a distributed path for the large case fetches with
  *    [[fetchAtMost]] instead and takes that path on `None`
  *    (`graft.operators.Dedup.components`' pair graph);
  *  - run the caller's `release` hook only AFTER the rows are safely on
  *    the driver (releasing first would recompute the lineage on collect);
  *  - rebuild as a plan-free LocalRelation on the CALLER's session, so
  *    anything composed downstream plans under the caller's conf, not a
  *    scope clone's, and no internal cache or lineage outlives the call.
  */
object Detach {
  def toLocal(df: DataFrame, cap: Int, caller: SparkSession,
      overflowMsg: String)(release: => Unit): DataFrame = {
    val rows = fetchAtMost(df, cap)
    require(rows.isDefined, overflowMsg)
    release
    caller.createDataFrame(java.util.Arrays.asList(rows.get: _*), df.schema)
  }

  /** The fetch half of [[toLocal]], for a caller that picks its path from
    * the size instead of failing: the rows when `df` holds at most `cap`
    * (one pass over `cap + 1`), `None` when it holds more. */
  def fetchAtMost(df: DataFrame, cap: Int): Option[Array[Row]] = {
    val rows = df.limit(cap + 1).collect()
    if (rows.length <= cap) Some(rows) else None
  }
}
