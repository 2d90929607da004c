package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate: a named Spark builder over a source dir, and the DuckDB SQL
  * that computes the same answer from the same tables (TESTDATA.md).
  * `graft.Verify` writes both; `tools/check.py` compares them.
  */
final case class Gate(name: String, build: (SparkSession, String) => DataFrame,
    oracle: String)
