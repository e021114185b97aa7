package graft.perfbench

/** Prints the catalog queries' order-insensitive output digests as the JSON
  * object `pins.json` holds:
  *
  *   Pins <table dir> <work dir> <cpus>
  *
  * Regenerate pins only from a tree whose outputs for these queries pass
  * the DuckDB differential check (`tools/check.py` over a `graft.Verify`
  * dump of the same table directory).
  */
object Pins {
  def main(argv: Array[String]): Unit = {
    val Array(data, work, cpus) = argv
    val a = Main.Args("pins", 0L, 0, trace = false, data, work, cpus.toInt, None, None,
      deadlineS = 0)
    val spark = Main.session(a)
    try {
      val pins = Main.LightQueries.sorted.map { q =>
        val (n, x) = Stats.digest(graft.SparkEntry.queries(q)(spark, data))
        s"""  "$q": [$n, $x]"""
      }
      println(pins.mkString("{\n", ",\n", "\n}"))
    } finally spark.stop()
  }
}
