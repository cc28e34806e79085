// Dump NAMED queries to parquet (plus their oracle SQL) for a local
// DuckDB cross-check while iterating on a query slot, on Main's session.
// usage: runMain graft.tools.VerifyOne <sfDir> <outDir> <query> [query...]
package graft.tools

import java.nio.file.{Files, Paths}

object VerifyOne {
  def main(args: Array[String]): Unit = {
    val (dir, outDir, names) = (args(0), args(1), args.drop(2).toSeq)
    val s = graft.Main.session()
    try {
      Files.createDirectories(Paths.get(outDir))
      names.foreach { n =>
        graft.SparkEntry.queries(n)(s, dir).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$n")
        graft.SparkEntry.oracleSql.get(n).foreach { sql =>
          Files.writeString(Paths.get(s"$outDir/$n.sql"), sql)
        }
        println(s"VERIFYONE dumped $n")
      }
    } finally s.stop()
  }
}
