package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

class GenSpec extends SparkSuite {
  test("the same seed gives the same corpus, another seed another one") {
    def corpus(seed: Long) = Corpus.docs(spark, seed, Corpus.Zipf, 500, 40, 3).collect().toSeq
    assert(corpus(7) == corpus(7))
    assert(corpus(7) != corpus(8))
    // Independent of partitioning: a document is a function of (seed, id).
    assert(Corpus.docs(spark, 7, Corpus.Uniform, 500, 40, 1).collect().toSeq ==
      Corpus.docs(spark, 7, Corpus.Uniform, 500, 40, 4).collect().toSeq)
  }

  test("the fixture is byte-identical across generations") {
    def gen(): Path = {
      val d = Files.createTempDirectory(tmp, "fixture")
      Fixture.write(spark, d.toString, 0.001)
      d
    }
    // Part files are named part-<index>-<write uuid>; compare by index.
    def bytes(root: Path) = Fixture.Tables.map { t =>
      val files = Files.list(root.resolve(s"$t.parquet")).iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        .sortBy(_.getFileName.toString.take(10))
      t -> files.map(f => Files.readAllBytes(f).toSeq)
    }.toMap
    val (a, b) = (bytes(gen()), bytes(gen()))
    for (t <- Fixture.Tables) assert(a(t) == b(t), s"$t differs between generations")
  }

  test("result hashes ignore row order and render cells canonically") {
    import org.apache.spark.sql.Row
    val rows = Seq(Row(1L, 2.5, "x"), Row(2L, null, "y"))
    assert(RowHash.of(Seq("a", "b", "c"), rows) == RowHash.of(Seq("a", "b", "c"), rows.reverse))
    assert(RowHash.cell(0.1 + 0.2) == "300e-3")
    assert(RowHash.cell(-1.0005) == "-1000e-3")
    assert(RowHash.cell(java.time.LocalDateTime.of(1970, 1, 1, 0, 0, 1)) == "1000000")
    assert(RowHash.rowString(Seq("b", "a"), Row(1, "z")) == "a=z\u001fb=1")
  }
}
