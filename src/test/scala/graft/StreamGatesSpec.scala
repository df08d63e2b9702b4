package graft

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.tools.StreamGates

/** The streaming-gate harness in the test session. One run serves both
  * cases: a gate that throws, then the real STREAMLATE gate. */
class StreamGatesSpec extends SparkTestBase {

  private val out = Paths.get(tmpDir("streamgates-spec"))
  private val boom = StreamGates.Gate("BOOM")(_ =>
    throw new IllegalStateException("boom"))

  private def confs() =
    StreamGates.StateConfs.map { case (k, _) => spark.conf.getOption(k) }
  private def json(p: Path): JsonNode =
    new ObjectMapper().readTree(Files.readString(p))
  private def artifact(name: String) = json(out.resolve(s"$name.json"))

  /** (state-store confs before the run, whether the run passed) */
  private lazy val run = {
    val before = confs()
    (before, StreamGates.run(spark, Seq(boom, StreamGates.STREAMLATE), out))
  }

  test("StreamGates.run reproduces STREAMLATE's committed verdicts and restores the state-store confs") {
    val (before, _) = run
    val late = artifact("STREAMLATE")
    assert(late.get("all_ok").asBoolean && late.get("complete").asBoolean)
    assert(late.get("returncode").asInt === 0)
    assert(late.get("ops") === json(Paths.get("STREAMLATE.json")).get("ops"))
    assert(confs() === before)
  }

  test("a gate that throws is recorded incomplete and the gates after it still run") {
    val (_, passed) = run
    assert(!passed)
    val b = artifact("BOOM")
    assert(!b.get("complete").asBoolean && b.get("returncode").asInt === 1)
    assert(b.get("error").asText.contains("boom"))
    assert(artifact("STREAMLATE").get("complete").asBoolean)
  }
}
