package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration the engine's mains and its test
  * suite share, so a bench, a verify run and a test cannot run
  * different confs. Callers add only what differs (app name,
  * warehouse dir) before `getOrCreate()`.
  */
object Engine {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // Constraint propagation re-derives isnotnull() constraints from
      // join keys and filters and substitutes the FULL defining
      // expression of derived columns into scan-stage filters — for
      // this engine's interpreted higher-order folds (MinHash/SimHash
      // signatures) that re-evaluates the whole hash pipeline per row.
      // No query here relies on inferred constraints (keys are never
      // null); turning it off keeps every fold single-evaluation.
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
