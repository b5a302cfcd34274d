package graft.operators

import org.apache.spark.sql.functions._
import graft.engine.Q
import graft.plans.AsOfJoinPlan

/** J7: ASOF join queries (SURVEY.md §2.3 J7) — time-series alignment:
  * for each click event, the most recent purchase by the same user at or
  * before the click. Oracle = DuckDB's native ASOF JOIN.
  *
  * Both queries, and their oracle texts when served, run the engine's
  * one ASOF operator (graft.plans.AsOfJoinExec — LogicalPlan + Strategy
  * + streaming-merge SparkPlan, one shuffle per side, O(1) state);
  * j7_asof_inner drops the clicks with no match (its `inner` flag).
  */
object AsOfQueries {

  val j7 = Q(
    "j7_asof_join",
    """SELECT l.event_id, l.user_id,
      |       r.event_id AS purchase_id, r.value AS purchase_value
      |FROM (SELECT * FROM events WHERE event_type = 'click') l
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      |  ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY l.event_id ASC NULLS LAST""".stripMargin
  ) { s =>
    val clicks = s.table("events").filter(col("event_type") === "click")
    val purchases = s.table("events").filter(col("event_type") === "purchase")
    AsOfJoinPlan.asof(s, clicks, purchases, "user_id", "ts",
      Seq("event_id" -> "purchase_id", "value" -> "purchase_value"))
      .select(col("event_id"), col("user_id"), col("purchase_id"), col("purchase_value"))
      // preSort (r19): no range-sampling re-exec of the asof merge
      .transform(graft.engine.Par.preSort(_, col("event_id")))
      .orderBy(col("event_id").asc_nulls_last)
  }

  /** ASOF inner form: drop left rows with no match. */
  val j7b = Q(
    "j7_asof_inner",
    """SELECT l.event_id, r.event_id AS purchase_id
      |FROM (SELECT * FROM events WHERE event_type = 'click') l
      |ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      |  ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY l.event_id ASC NULLS LAST""".stripMargin
  ) { s =>
    val clicks = s.table("events").filter(col("event_type") === "click")
    val purchases = s.table("events").filter(col("event_type") === "purchase")
    AsOfJoinPlan.asof(s, clicks, purchases, "user_id", "ts",
      Seq("event_id" -> "purchase_id"), inner = true)
      .select(col("event_id"), col("purchase_id"))
      // preSort (r19): no range-sampling re-exec of the asof merge
      .transform(graft.engine.Par.preSort(_, col("event_id")))
      .orderBy(col("event_id").asc_nulls_last)
  }

  val all: Seq[Q] = Seq(j7, j7b)
}
