package graft
package queries

/** The one registration point for the driver-contract queries: each
  * domain file declares its [[QueryDef]]s, and `SparkEntry`, `Bench`
  * and `Verify` derive everything they need from this list. */
object Registry {

  val all: Seq[QueryDef] =
    RelationalQueries.all ++ TextQueries.all ++ DedupQueries.all ++
      WebQueries.all ++ MediaQueries.all ++ StreamingQueries.all

  private val duplicates = all.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
  require(duplicates.isEmpty, s"duplicate query names: ${duplicates.toSeq.sorted.mkString(", ")}")

  def tagged(tag: Tag): Set[String] = all.filter(_.tags(tag)).map(_.name).toSet

  /** Query name → langid hash family, for queries tagged [[Tag.Langid]]. */
  def langidFamilies: Map[String, String] =
    all.flatMap(q => q.tags.collect { case Tag.Langid(family) => q.name -> family }).toMap
}
