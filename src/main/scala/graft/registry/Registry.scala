package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The driver-facing query registry: each entry pairs a Spark implementation
  * of one SURVEY.md §2 operator (or LLM-pipeline operator) with equivalent
  * DuckDB SQL for the driver's oracle compare. Entries live in per-tier
  * files ([[HtaEntries]], [[SeriesEntries]], [[RelationalEntries]],
  * [[DedupEntries]], [[TextEntries]], [[AnnEntries]], [[MultimodalEntries]],
  * [[AnalyticsEntries]]); shared constants and builders in [[Shared]].
  *
  * ORACLE-PARITY RULES (the driver hash-compares values after sorting
  * columns by name):
  *  - every aggregate is computed in the exact integer domain (cents = 100×
  *    value, time in int64 ns, integral in cents·µs) — float summation order
  *    can then never flip a bit;
  *  - doubles in outputs are either raw parquet values or single IEEE
  *    divisions/sqrts of identical integers — deterministic on both engines;
  *  - every column is aliased identically in the Spark plan and the SQL.
  */
object Registry {
  type Entry = Shared.Entry

  // shared time-range constants, re-exported for the specs
  val B = Shared.B
  val E = Shared.E

  // memoized store/index builders (Bench pre-builds the same instances)
  def warehouseFor(s: SparkSession, d: String): graft.store.Hta = Shared.warehouseFor(s, d)
  def multiWarehouseFor(s: SparkSession, d: String): graft.store.MultiWarehouse.MultiHta = Shared.multiWarehouseFor(s, d)
  def cloneFor(s: SparkSession, d: String): graft.store.Hta = Shared.cloneFor(s, d)
  def ivfIndexFor(s: SparkSession, d: String): graft.pipeline.Ann.IvfIndex = Shared.ivfIndexFor(s, d)
  def textIndexFor(s: SparkSession, d: String): graft.store.TextIndex.Handle = Shared.textIndexFor(s, d)
  def textIndexDeltaFor(s: SparkSession, d: String): graft.store.TextIndex.Handle = Shared.textIndexDeltaFor(s, d)
  def textIndexPosFor(s: SparkSession, d: String): graft.store.TextIndex.Handle = Shared.textIndexPosFor(s, d)
  def bandIndexFor(s: SparkSession, d: String): graft.store.BandIndex.Handle = Shared.bandIndexFor(s, d)
  def curationLayoutFor(s: SparkSession, d: String): String = Shared.curationLayoutFor(s, d)

  val entries: Seq[Entry] =
    HtaEntries.entries ++
    SeriesEntries.entries ++
    RelationalEntries.entries ++
    DedupEntries.entries ++
    TextEntries.entries ++
    AnnEntries.entries ++
    MultimodalEntries.entries ++
    AnalyticsEntries.entries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.fn).toMap

  def oracleSql: Map[String, String] =
    entries.flatMap(e => e.sql.map(e.name -> _)).toMap
}
