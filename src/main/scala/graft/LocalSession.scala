package graft

import org.apache.spark.sql.SparkSession

/** The local-mode session the graft mains and the test base build: `cores`
  * task threads and as many shuffle partitions, UTC, graft's extensions,
  * the shared warehouse, nano timestamps read as longs, AQE on, no UI.
  * Callers add their own overrides and set their own log level. */
object LocalSession {
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      // OrderedScan sizes bucket exchanges up to 256 partitions; keep them on
      // the bypass-merge shuffle writer (no map-side sort, no map-side spill)
      .config("spark.shuffle.sort.bypassMergeThreshold", 2048)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
}
