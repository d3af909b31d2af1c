package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-gated query: `build` runs it on Spark over an sf directory,
  * `oracle` is its DuckDB twin — same column names, same row order, same
  * values (the correctness gate hash-compares the two). */
final case class Gate(name: String, oracle: String, build: (SparkSession, String) => DataFrame)

object Gate {

  /** The gates in declaration order, after checking that no name is
    * declared twice: a map built from two equal keys keeps the last one
    * without a word, so a duplicate would silently shadow a gate. */
  def registry(gates: Gate*): Seq[Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"gate declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    gates
  }
}
