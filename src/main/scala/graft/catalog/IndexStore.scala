package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.internal.SQLConf

/** The edges every incremental index shares (text LSH, semantic,
  * winnowing, audio, image and link graph): one publish of the index's
  * relations through the catalog, one materialized load, one keyed
  * id-delete, and the one broadcast guard a per-batch probe of a stored
  * relation goes through. An index object names its tables and its id
  * key; the mechanics live here once.
  */
object IndexStore {

  /** Publish each `(table, relation)`: create the table if missing,
    * then one atomic versioned overwrite. With `vacuumHistory` the
    * older versions are vacuumed, so an ingest loop that publishes
    * after every batch keeps exactly one on-disk version per table.
    */
  def publish(catalog: ParquetCatalog, vacuumHistory: Boolean,
      tables: (String, DataFrame)*): Unit =
    tables.foreach { case (t, df) =>
      if (!catalog.exists(t)) catalog.create(t, df.schema)
      catalog.overwrite(t, df)
      if (vacuumHistory) catalog.vacuum(t)
    }

  /** A published relation read back as index state, materialized: a
    * slice-union index keeps its loaded base for life, and the next
    * vacuumed publish deletes the files a lazy base would still read.
    */
  def load(catalog: ParquetCatalog, table: String): DataFrame =
    catalog.table(table).localCheckpoint()

  /** `rel` without the rows whose `key` is one of `ids`' `idCol` values:
    * one keyed anti-join (the delete set broadcasts at scale),
    * materialized because an index is state. Ids never indexed are
    * no-ops. Pairs already emitted for the deleted ids are history: an
    * index removal does not retract past outputs, as in every LSM-style
    * index.
    */
  def delete(rel: DataFrame, key: String, ids: DataFrame,
      idCol: String): DataFrame =
    rel.join(ids.select(col(idCol).as(key)), Seq(key), "left_anti")
      .localCheckpoint()

  /** `side` with a broadcast hint when the localCheckpoint'd relation
    * it reads, times `fanOut`, holds at most `autoBroadcastJoinThreshold`
    * bytes, so the stored relation on the other side of the join is
    * scanned, not shuffled. A checkpointed relation has no size
    * statistics, so the measure is its block-manager bytes; `fanOut`
    * is how many copies of a checkpointed row `side` emits (an explode
    * of one row into `bands` keys that each carry the row). A larger
    * (or unmeasurable) side gets no hint: the join then shuffles
    * instead of broadcasting a huge batch.
    */
  private[graft] def buildSide(side: DataFrame, fanOut: Int = 1)
      : DataFrame = {
    val limit = SQLConf.get.autoBroadcastJoinThreshold
    val ckpt = ColumnBridge.logicalPlan(side).collectLeaves() match {
      case Seq(r: LogicalRDD) => Some(r.rdd.id)
      case _ => None
    }
    val bytes = ckpt.flatMap(id => side.sparkSession.sparkContext
      .getRDDStorageInfo.find(_.id == id)).map(i => i.memSize + i.diskSize)
    if (bytes.exists(_ * fanOut <= limit)) broadcast(side) else side
  }
}
