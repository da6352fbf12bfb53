package graft.tools

/** Driver-contract smoke: run `SparkEntry.entry` (flagship query,
  * pinned to sf0.001 inside entry itself) and print the row count —
  * the driver checks rows > 0.
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(8)
    val n = graft.SparkEntry.entry(spark).count()
    println(s"""{"entry_rows":$n}""")
    require(n > 0, "entry() returned no rows")
    spark.stop()
  }
}
