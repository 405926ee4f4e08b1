package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The keyed-table MERGE layer — the one genuinely custom piece of the
  * reference surface (SURVEY §7.3). The reference's storage model is a
  * table of rows addressed by `(PartitionKey, RowKey)` with upsert-MERGE
  * (only non-default fields win, reference
  * `storage/azurestoragewrapper.py:183,227-231`), upsert-REPLACE
  * (`:251-258`), keyed DELETE (`:260-267`) and insert-if-absent
  * (`server/etl.py:148-149`).
  *
  * Everything is expressed with public DataFrame operators, so Catalyst
  * plans them: the dedup window and the merge join both shuffle ONCE on
  * the key columns; at scale the target side should be bucketed/
  * pre-partitioned on the same keys so only the (small) update side
  * shuffles. No driver-side state anywhere.
  */
object KeyedTable {

  /** Upsert-REPLACE: last writer wins per key (reference
    * `insert_or_replace_entity`, `storage/azurestoragewrapper.py:251-258`).
    * `updates` rows beat `target` rows with equal `versionCol`; within a
    * frame the higher version wins. One shuffle on `keys`.
    */
  /** `tiebreak` columns totalize the ordering when the same key carries
    * several rows at the same version (dirty inputs) — without them the
    * winner would be partition-order-dependent, i.e. nondeterministic.
    */
  def upsertReplace(target: DataFrame, updates: DataFrame, keys: Seq[String],
                    versionCol: String, tiebreak: Seq[String] = Nil): DataFrame = {
    val unioned = target.unionByName(updates)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc +: tiebreak.map(col(_).asc): _*)
    unioned.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Upsert-MERGE with partial-update semantics: for every non-key column
    * the update value wins ONLY when it differs from that column's
    * declared default; otherwise the stored value survives; a still-null
    * result takes the default (exact semantics of the reference's
    * non-default projection + reload-merge,
    * `storage/azurestoragewrapper.py:183,227-231`).
    *
    * `defaults` maps column name → default literal; columns absent from
    * the map fall back to plain COALESCE(update, old).
    */
  def upsertMerge(target: DataFrame, updates: DataFrame, keys: Seq[String],
                  defaults: Map[String, Any]): DataFrame = {
    val dataCols = target.columns.filterNot(keys.contains)
    val t = target.select(keys.map(col) ++ dataCols.map(c => col(c).as(s"__t_$c")): _*)
    val u = updates.select(
      keys.map(col) ++
        updates.columns.filterNot(keys.contains).map(c => col(c).as(s"__u_$c")): _*)
    val joined = t.join(u, keys, "full_outer")
    val merged = dataCols.map { c =>
      val old = col(s"__t_$c")
      if (!u.columns.contains(s"__u_$c")) old.as(c)
      else {
        val upd = col(s"__u_$c")
        defaults.get(c) match {
          case Some(d) => coalesce(when(upd =!= lit(d), upd), old, lit(d)).as(c)
          case None    => coalesce(upd, old).as(c)
        }
      }
    }
    joined.select(keys.map(col) ++ merged: _*)
  }

  /** Keyed DELETE as an anti-join rewrite (reference `delete_entity`,
    * `storage/azurestoragewrapper.py:260-267`; missing keys tolerated).
    * The keys are not deduplicated: an anti join ignores duplicates on
    * its build side, and a dedup would only add an exchange.
    */
  def deleteByKeys(target: DataFrame, deleteKeys: DataFrame, keys: Seq[String]): DataFrame =
    target.join(deleteKeys.select(keys.map(col): _*), keys, "left_anti")

  /** Insert-if-absent (reference `server/etl.py:148-149`): append only
    * rows whose key is not yet present.
    */
  def insertIfAbsent(target: DataFrame, inserts: DataFrame, keys: Seq[String]): DataFrame =
    target.unionByName(
      inserts.join(target.select(keys.map(col): _*).distinct(), keys, "left_anti"))

  /** Import-once at partition grain (reference `server/etl.py:71,109-110`):
    * keep existing partitions, admit only incoming rows whose partition
    * value is not already present.
    */
  def importOnce(target: DataFrame, incoming: DataFrame, partitionCol: String): DataFrame = {
    val existing = target.select(partitionCol).distinct()
    target.unionByName(incoming.join(existing, Seq(partitionCol), "left_anti"))
  }

  /** Broadcast dimension-enrich with a default on miss — the genre
    * lookup pattern (reference `storage/tablemodels.py:98-104`: linear
    * probe with `'Sonstiges'` fallback → broadcast left-outer join +
    * coalesce).
    */
  def lookupEnrich(facts: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
                   valueCol: String, as: String, default: String): DataFrame = {
    // Unique temp names: a bare drop(valueCol) resolves case-insensitively
    // and would also remove an output column differing only in case
    // (e.g. dim `Genre` vs enriched `genre`).
    val d = dim.select(col(dimKey).as("__dim_key"), col(valueCol).as("__dim_val"))
    facts.join(broadcast(d), facts(factKey) === d("__dim_key"), "left_outer")
      .withColumn(as, coalesce(col("__dim_val"), lit(default)))
      .drop("__dim_key", "__dim_val")
  }

  /** COPY re-key (K7, reference `copyto`,
    * `storage/azurestoragewrapper.py:303-317`): rows matching `pred` are
    * duplicated under a new partition key, originals kept — the
    * materialized-view pattern behind the reference's 'top' partition.
    */
  def copyTo(table: DataFrame, pred: Column, pkCol: String, newPk: Column): DataFrame =
    table.unionByName(table.filter(pred).withColumn(pkCol, newPk))

  /** MOVE re-key (K6, reference `moveto`,
    * `storage/azurestoragewrapper.py:286-301`): delete + insert under the
    * new key in one dataflow.
    */
  def moveTo(table: DataFrame, pred: Column, pkCol: String, newPk: Column): DataFrame =
    table.filter(!pred).unionByName(table.filter(pred).withColumn(pkCol, newPk))

  /** 1:N child load (J5, reference `Recording.loadtorrents`,
    * `storage/tablemodels.py:62-68`): attach each parent's child rows as
    * ONE array column in a single pass — a shuffle on the join key and a
    * hash aggregate, instead of the reference's per-parent query loop
    * (which would be N driver round-trips at scale).
    *
    * The children are packed as structs with `orderCol` as the FIRST
    * field and the array is sorted, so the result is deterministic
    * (collect_list order is not). Parents with no children get an empty
    * array (left join + coalesce).
    */
  def loadChildren(parents: DataFrame, children: DataFrame,
                   parentKey: String, childKey: String,
                   orderCol: String, as: String): DataFrame = {
    val childCols = col(orderCol) +:
      children.columns.filterNot(c => c == childKey || c == orderCol).map(col).toSeq
    val packed = children
      .groupBy(col(childKey).as(parentKey))
      .agg(sort_array(collect_list(struct(childCols: _*))).as(as))
    parents.join(packed, Seq(parentKey), "left_outer")
      .withColumn(as, coalesce(col(as), array().cast(packed.schema(as).dataType)))
  }

  /** Existence probe ≡ `LIMIT 1` scan (reference `table_isempty`,
    * `storage/azurestoragewrapper.py:54-75`): a bounded action, never a
    * full count.
    */
  def exists(df: DataFrame): Boolean = !df.limit(1).isEmpty
}
