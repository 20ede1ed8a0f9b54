package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A file of declared queries: each name maps to its DataFrame build
  * and to the ANSI SQL the DuckDB oracle replays on the same parquet.
  * Helpers shared by two groups live in [[graft.queries.fixtures]].
  */
trait QueryGroup {
  def queries: Map[String, QueryGroup.Build]
  def oracleSql: Map[String, String]
  def name: String = getClass.getSimpleName.stripSuffix("$")
}

object QueryGroup {
  type Build = (SparkSession, String) => DataFrame

  final case class Registry(queries: Map[String, Build],
      oracleSql: Map[String, String])

  /** Merges `groups` into one registry. Throws `IllegalStateException`
    * naming the query when a group's build and oracle key sets differ,
    * or when two groups declare the same name (a plain `Map ++` would
    * silently keep the later one).
    */
  def registry(groups: Seq[QueryGroup]): Registry = {
    groups.foreach { g =>
      val builds = g.queries.keySet
      val oracles = g.oracleSql.keySet
      val odd = ((builds diff oracles) ++ (oracles diff builds)).toSeq.sorted
      if (odd.nonEmpty) throw new IllegalStateException(s"${g.name}: " +
        s"${odd.mkString(", ")} must declare both a build and an oracle")
    }
    groups.flatMap(g => g.queries.keys.map(_ -> g.name)).groupBy(_._1)
      .filter(_._2.size > 1).toSeq.sortBy(_._1).headOption.foreach {
        case (q, owners) => throw new IllegalStateException(
          s"$q is declared by ${owners.map(_._2).mkString(" and ")}")
      }
    Registry(groups.flatMap(_.queries).toMap,
      groups.flatMap(_.oracleSql).toMap)
  }
}
