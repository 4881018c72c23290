package org.apache.spark.sql.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes `SparkEntry.oracleSql` (query name → DuckDB SQL) as one JSON
  * object, so the reference side can run the oracles without a JVM. */
object OracleDump {
  def main(args: Array[String]): Unit =
    Files.write(Paths.get(args(0)),
      Harness.json(graft.SparkEntry.oracleSql).getBytes(StandardCharsets.UTF_8))
}
