package graft.sources

import java.io.File
import java.nio.file.Files

import graft.SparkSpec

/** The generation-token safety path of the commit-log streaming source
  * (r11 verdict #2: the guard landed untested; its regex fallback is
  * exactly the kind of code that silently reverts):
  *   - offset JSON round-trips in BOTH formats (legacy plain-int and the
  *     generation-carrying json);
  *   - a resume across a truncate+rewrite that re-landed at least as many
  *     commits fails loudly (IllegalStateException), never silently
  *     dropping the new generation's first commits;
  *   - offsets are stamped with the generation of the manifest they NAME,
  *     so an admission-capped offset landing on a pre-header legacy
  *     manifest stays check-skipped instead of tripping over the log's
  *     newest generation (r11 ADVICE medium).
  */
class CommitLogGenerationSpec extends SparkSpec {

  private def writeOnce(tbl: String, mode: String): Long = {
    val src = graft.Tables.load(spark, sfSmoke, "nation")
      .selectExpr("CAST(n_nationkey AS BIGINT) AS k", "n_name")
    src.write.format("graft.sources.ArrowIpcSource").mode(mode).save(tbl)
    src.count()
  }

  private def drain(tbl: String, ck: String): Seq[(Long, Long)] = {
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val stream = spark.readStream.format("graft.sources.ArrowIpcSource")
      .option("maxVersionsPerTrigger", 1).load(tbl)
    graft.streaming.Streams.runForeachBatch(stream, ck) { (b, id) =>
      got += ((id, b.count()))
    }
    got.toSeq
  }

  test("offset json round-trips in both formats") {
    val legacy = ArrowVersionOffset.parse("7")
    assert(legacy == ArrowVersionOffset(7, ""),
      "plain-int checkpoint must parse as the check-skipped legacy form")
    assert(legacy.json() == "7",
      "an empty generation must serialize back to the legacy form")
    val tagged = ArrowVersionOffset(12, "ab34cd56")
    val back = ArrowVersionOffset.parse(tagged.json())
    assert(back == tagged, s"json round-trip drifted: ${tagged.json()}")
    assert(tagged.json() == """{"version":12,"generation":"ab34cd56"}""")
  }

  test("resume across truncate+rewrite fails loudly, never drops commits") {
    val tbl = graft.Session.scratch(spark, "gen_tr")
    val ck = graft.Session.scratch(spark, "gen_tr_ck")
    val n0 = writeOnce(tbl, "append")
    writeOnce(tbl, "append")
    assert(drain(tbl, ck) == Seq((0L, n0), (1L, n0)))
    // while the stream is down: truncate (new generation, log restarts at
    // v1) and append until the consumed version count exists again — a
    // version-only offset would now silently diff across generations
    writeOnce(tbl, "overwrite")
    writeOnce(tbl, "append")
    assert(TwoPhaseCommit.manifestVersions(new File(tbl)) == Seq(1, 2),
      "fixture must re-land exactly the consumed version count")
    val e = intercept[Exception] { drain(tbl, ck) }
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(chain.exists(t => t.isInstanceOf[IllegalStateException] &&
        t.getMessage.contains("log generation")),
      s"expected the generation guard, got: $e")
  }

  /** Rewrite manifest `v` without its generation header — a table written
    * before the token existed.
    */
  private def stripGeneration(tbl: String, v: Int): Unit = {
    val f = new File(tbl, s"_v$v.manifest")
    val names = TwoPhaseCommit.readManifest(new File(tbl), v)
    Files.writeString(f.toPath, names.mkString("\n"))
    assert(TwoPhaseCommit.generation(new File(tbl), v).isEmpty)
  }

  test("admission-capped offsets on legacy manifests stay check-skipped") {
    val tbl = graft.Session.scratch(spark, "gen_lg")
    val ck = graft.Session.scratch(spark, "gen_lg_ck")
    val n0 = writeOnce(tbl, "append")
    writeOnce(tbl, "append")
    stripGeneration(tbl, 1); stripGeneration(tbl, 2)
    // the next append finds no prior generation and mints a fresh one:
    // a log whose history is pre-header but whose head is post-header
    val n2 = writeOnce(tbl, "append")
    assert(TwoPhaseCommit.generation(new File(tbl), 3).nonEmpty)
    // paced at one version per trigger, the v1/v2 offsets name legacy
    // manifests; stamping them with the log's NEWEST generation would
    // throw here (r11 ADVICE medium) — they must carry the empty
    // (check-skipped) generation of the manifest they name
    assert(drain(tbl, ck) == Seq((0L, n0), (1L, n0), (2L, n2)),
      "legacy history must drain commit-by-commit under admission control")
  }
}
