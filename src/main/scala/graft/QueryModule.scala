package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query module of the [[SparkEntry]] registry. Its queries and
  * their DuckDB twins come together, so a module cannot be registered
  * without its twins being visible beside it. */
trait QueryModule {
  type Q = (SparkSession, String) => DataFrame

  /** Query name -> builder over an sf directory. */
  def queries: Map[String, Q]

  /** Query name -> equivalent DuckDB SQL over the same parquet tables;
    * omits the queries that are not SQL-expressible. */
  def oracle: Map[String, String]

  /** True when the queries run on checked-in fixtures rather than the
    * sf-scaled testdata tables, so their runtime is constant in SF. */
  def fixtureDriven: Boolean = false
}
