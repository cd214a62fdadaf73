package perfbench

import org.apache.spark.sql.SparkSession

/** Writes the pack reference: `name \t rows \t hash` per query, read from a
  * `graft.Verify` dump of the pack dataset (after `scripts/check_oracles.py`
  * has passed on that dump).
  *
  *   java ... perfbench.PackReference <verifyDumpDir> <out.tsv>
  */
object PackReference {
  def main(args: Array[String]): Unit = {
    val Array(dump, out) = args
    val spark = Main.session()
    val lines = graft.SparkEntry.queries.keys.toSeq.sorted.map { q =>
      val (rows, hash) = Workloads.rowsAndHash(spark.read.parquet(s"$dump/$q"))
      s"$q\t$rows\t$hash"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
