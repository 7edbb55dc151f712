package graft

import org.apache.spark.sql.DataFrame

package object ops {

  /** The one owner of cached data: `df` is persisted while `body` runs and
    * released when it returns or throws, so no relation outlives the scope
    * that reads it. A relation an op hands back never reads from here: it
    * ends on a `localCheckpoint`, whose blocks Spark's ContextCleaner frees
    * once the result is unreachable.
    *
    * Only the persisted relation keeps its partitioning: a join or an
    * aggregate keyed like it reads it without an exchange. A
    * `localCheckpoint`, lazy or eager, keeps none under the adaptive
    * execution [[graft.Tables.session]] turns on, so a repartition just
    * before one is a shuffle its consumers repeat (PartitionsSpec pins
    * both facts).
    */
  def withPersisted[T](df: DataFrame)(body: DataFrame => T): T = {
    val p = df.persist()
    try body(p) finally p.unpersist()
  }
}
