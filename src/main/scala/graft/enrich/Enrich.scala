package graft.enrich

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Enrichment-join operators (SURVEY.md §2.4 J2-J5, §2.8 A3/G1/G2, §2.1 S11).
  *
  * The reference probes driver-memory dicts built from batched HTTP calls
  * (preprocessing/fulltext_enricher.py:146-203); the Spark formulation is a
  * broadcast left-outer join against the (small) id-mapping relation — the
  * faithful physical analogue of a driver-side hash map, and the right plan
  * at 100 TB: the big input streams partition-parallel, the id map ships
  * once per executor, zero shuffle of the large side.
  */
object Enrich {

  /** J3: resume anti-join — drop rows whose key is already in the prior
    * output (fulltext_enricher.py:132-138). Left-anti against a `seen` set;
    * broadcastable when the seen set is small, shuffled-hash otherwise. */
  def resumeAntiJoin(input: DataFrame, seen: DataFrame, key: String): DataFrame =
    input.join(seen, Seq(key), "left_anti")

  /** J2: enrichment left-outer broadcast join (doi_norm → pmcid). */
  def enrichJoin(input: DataFrame, idMap: DataFrame, key: String): DataFrame =
    input.join(broadcast(idMap), Seq(key), "left")

  // J5 (failure-reason lookup with default) is Pipelines.runFulltext's
  // broadcast left join against failMap, with the 'No PMCID' coalesce.

  /** A3: one-pass success/failure split (fulltext_enricher.py:196-222).
    * Returns (successes, failures-with-reason); callers should cache the
    * input when writing both sides so the upstream runs once. A NULL ok
    * flag (three-valued logic upstream) routes to the failure side — rows
    * must never vanish from the split. */
  def splitFailures(assembled: DataFrame, okCol: String, reasonCol: String): (DataFrame, DataFrame) = {
    val okFlag = coalesce(col(okCol), lit(false))
    val ok = assembled.filter(okFlag).drop(okCol, reasonCol)
    val failed = assembled.filter(!okFlag)
    (ok, failed)
  }

  // G1 (run-summary aggregation, fulltext_enricher.py:234-248) lives in
  // Pipelines.runFulltext as a lazy one-row plan over the assembled frame;
  // G2 (failure-reason histogram) is the `skip_reasons` catalog row.
}
