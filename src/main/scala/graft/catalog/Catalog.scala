package graft.catalog

/** The query catalog: every family's [[Query]] rows, indexed by name.
  * `SparkEntry.queries` / `SparkEntry.oracleSql` are views of it; `Bench`,
  * `Verify` and the tools read anchors and preps from it.
  *
  * Oracle-parity conventions (see SURVEY.md §5.1):
  *  - money/value aggregates run on integer cents (`ROUND(x*100)` per row, then
  *    BIGINT sums) — exact and associative, so Spark's partial aggregation
  *    order can't drift from DuckDB's;
  *  - timestamps are compared as epoch seconds (BIGINT) derived from
  *    microsecond longs — both engines floor the driver's nanosecond
  *    parquet values identically;
  *  - floating point appears only inside rank/floor comparisons whose fold
  *    order is identical in both engines (left-to-right element folds);
  *  - every oracled query is totally ordered in both dialects.
  */
object Catalog {

  val all: Seq[Query] = Seq(
    RelationalQueries.all, NormalizationQueries.all, EnrichmentQueries.all,
    ChunkingQueries.all, DedupQueries.all, VectorQueries.all, TextQueries.all,
    MultimodalQueries.all, EventsQueries.all, FixtureQueries.all).flatten

  val byName: Map[String, Query] = index(all)

  def apply(name: String): Query = byName(name)

  /** Name index over `qs`; a name declared twice fails construction and
    * names the duplicate. */
  private[graft] def index(qs: Seq[Query]): Map[String, Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }

  /** The rows a run covers: every row, or, in the dev loop, only those
    * named in the comma-separated `SPARK_GRAFT_ONLY`. An unknown name fails
    * the run rather than silently covering less. */
  def selected: Map[String, Query] =
    sys.env.get("SPARK_GRAFT_ONLY") match {
      case None => byName
      case Some(list) =>
        val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = names -- byName.keySet
        require(unknown.isEmpty,
          s"SPARK_GRAFT_ONLY names not in the catalog: ${unknown.mkString(", ")}")
        byName.filter { case (n, _) => names(n) }
    }
}
