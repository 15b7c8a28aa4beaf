package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Computes the (row count, hash) of named queries over the fixture and
  * writes them with each query's oracle SQL, for `pin.py` to check
  * against DuckDB and turn into `pins.tsv`.
  *
  * Usage: Pin <work dir> <out.json> <name or prefix>... */
object Pin {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    val out = Paths.get(args(1))
    val wanted = args.drop(2).toSeq
    Main.deleteTree(work)
    Files.createDirectories(work)
    val spark = Main.session(work)
    Main.warmUp(spark)
    val dir = work.resolve("fixture").toString
    Fixture.write(spark, dir, QueryMix.Sf)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => wanted.exists(w => n == w || (w.endsWith("*") && n.startsWith(w.dropRight(1)))))
    val oracles = SparkEntry.oracleSql
    val rows = names.map { n =>
      val t0 = System.nanoTime()
      val res = try Right(QueryMix.runOne(spark, n, dir)) catch {
        case scala.util.control.NonFatal(e) => Left(e.toString)
      }
      spark.catalog.clearCache()
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[pin] $n%-28s $secs%6.2f s  $res")
      Map("name" -> n, "seconds" -> secs, "oracle_sql" -> oracles.get(n)) ++ (res match {
        case Right((c, h)) => Map("rows" -> c, "hash" -> h)
        case Left(err) => Map("error" -> err)
      })
    }
    Files.writeString(out, Json.render(Map("fixture" -> dir, "queries" -> rows)))
    spark.stop()
  }
}
