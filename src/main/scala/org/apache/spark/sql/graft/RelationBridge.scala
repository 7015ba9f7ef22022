package org.apache.spark.sql.graft

import java.util.concurrent.ExecutionException

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QualifiedTableName
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.classic
import org.sparkproject.guava.util.concurrent.{ExecutionError, UncheckedExecutionException}

/** Bridge into the session's relation cache, the one Spark keeps for
  * resolved data source tables (`SessionCatalog.getCachedPlan`). It
  * belongs to the session's own catalog, so an entry lives exactly as
  * long as its session: a `newSession()` starts empty, and a dropped
  * session takes its entries with it even though each cached relation
  * refers back to that session. */
object RelationBridge {

  /** No catalog table can carry this catalog name, so these entries
    * never meet a real table's. */
  private val Namespace = "graft.paths"

  /** `resolve`'s analyzed relation, resolved at most once per
    * `(spark, path, stamp)` (concurrent first callers wait for one
    * resolution), returned every time as a copy with fresh attribute
    * ids — what a second `spark.read` would give, so self-joins of two
    * loads stay unambiguous. A failed resolution is not kept. */
  def once(spark: SparkSession, path: String, stamp: String)(resolve: => DataFrame): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val key = QualifiedTableName(Namespace, path, stamp)
    val cached =
      try session.sessionState.catalog.getCachedPlan(key, () => resolve.queryExecution.analyzed)
      catch {
        case e @ (_: ExecutionException | _: UncheckedExecutionException | _: ExecutionError)
            if e.getCause != null => throw e.getCause
      }
    // a file scan resolves to a LogicalRelation, a MultiInstanceRelation
    classic.Dataset.ofRows(session, cached.asInstanceOf[MultiInstanceRelation].newInstance())
  }
}
