package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persistence edge every incremental index shares (text LSH,
  * semantic, winnowing, audio, image and link graph): one publish of
  * the index's relations through the catalog and one keyed id-delete.
  * An index object names its tables and its id key; the mechanics live
  * here once.
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
}
