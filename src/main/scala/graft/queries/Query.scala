package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verify-surface query: its name, its family, the Spark builder
  * (session, table directory) → result, and the DuckDB SQL that checks
  * the result. The oracle is by-name: declaring a query evaluates no
  * oracle text and reads no fixture file; [[oracle]] evaluates it on
  * each call. */
final class Query(
    val name: String,
    val family: String,
    val build: (SparkSession, String) => DataFrame,
    oracleSql: => String) {
  def oracle: String = oracleSql
}

/** A module of queries of one family; `query` tags each declaration
  * with the family. */
abstract class QueryFamily(val family: String) {
  def all: Seq[Query]

  protected def query(name: String)(
      build: (SparkSession, String) => DataFrame)(oracle: => String): Query =
    new Query(name, family, build, oracle)
}
