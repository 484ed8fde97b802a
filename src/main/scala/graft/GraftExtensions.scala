package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Cluster-wide injection point: set
  * `spark.sql.extensions=graft.GraftExtensions` and every session —
  * including thrift-server / connect sessions that never call
  * [[Engine.register]] — gets graft's SQL functions. This is the Spark
  * analogue of installing the reference's `.so` on HDFS once and
  * running `CREATE AGGREGATE FUNCTION` cluster-wide
  * (`/root/reference/README.md:25-33`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // SQL surface for the store-maintenance verbs (OPTIMIZE / VACUUM /
    // RESTORE / DESCRIBE HISTORY) — the DDL-then-SQL workflow extended
    // to the lifecycle ops a production operator schedules from SQL;
    // grammar and verb→catalog-op mapping in
    // [[graft.operators.MaintenanceSql]]
    ext.injectParser((_, delegate) =>
      new graft.operators.MaintenanceParser(delegate))
    // graft's SQL functions: the same table Engine.register consumes
    Engine.functions.foreach(ext.injectFunction)
  }
}
