package perfbench

/** Writes `SparkEntry.oracleSql` (query name -> DuckDB SQL) as JSON to the
  * file named by the first argument, for `oracle.py`. */
object OracleDump {
  def main(args: Array[String]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)),
      Json.render(graft.SparkEntry.oracleSql))
}
