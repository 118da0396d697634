package graft.sources

import org.apache.spark.sql.DataFrame

/** Table IO seam (BASELINE.md note): the sandbox ships no Iceberg runtime
  * jar, so tables are Parquet directories of the exact `input_hint`
  * schema; in a real deployment `GRAFT_TABLE_FORMAT=iceberg` makes every
  * read/write go through the Iceberg source instead — a one-line swap, no
  * engine change. */
object TableIO {
  def format: String = sys.env.getOrElse("GRAFT_TABLE_FORMAT", "parquet")

  def write(df: DataFrame, path: String, partitionBy: Seq[String] = Nil)
      : Unit = {
    val w = df.write.format(format).mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .save(path)
  }
}
