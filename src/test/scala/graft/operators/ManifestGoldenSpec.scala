package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Every commit verb publishes the manifests it always published: the
  * [[CommitVerbs]] list runs on a tiny fixture, and each case's stored
  * manifests, paths normalized, must equal its golden under
  * `src/test/resources/manifest-goldens`. To regenerate the goldens
  * after an intended format change, run this spec with
  * `GRAFT_GOLDEN_OUT=<dir>` set and copy the files it writes there. */
class ManifestGoldenSpec extends SparkSpec {

  test("every commit verb publishes its golden manifests byte for byte") {
    val tables = CommitVerbs.run(spark,
      Files.createTempDirectory("graft_golden_"))
    val out = sys.env.get("GRAFT_GOLDEN_OUT").map(Paths.get(_))
    val diffs = CommitVerbs.cases.flatMap { name =>
      val got = CommitVerbs.manifests(tables(name))
      out.foreach(d => Files.write(
        Files.createDirectories(d).resolve(s"$name.txt"), got.getBytes(UTF_8)))
      val want = Option(getClass.getResourceAsStream(
        s"/manifest-goldens/$name.txt")).map { in =>
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }
      if (want.contains(got)) None
      else Some(s"$name differs\n--- golden\n${want.getOrElse("<missing>")}" +
        s"\n--- published\n$got")
    }
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }
}
