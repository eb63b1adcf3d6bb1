package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `Bench.run` with injected drains, probes and context-alive check: no
  * Spark job runs and the shared test context is never stopped. */
class BenchSpec extends AnyFunSuite {

  private def bench(names: Seq[String], drain: String => Option[Double],
      alive: () => Boolean, probe: () => Double,
      lavgStart: Double = 0.0): (JsonNode, JsonNode) = {
    val (full, line) = Bench.run(names, "sf", cpus = 4, lavgStart = lavgStart,
      drain, alive, probe)
    val m = new ObjectMapper
    (m.readTree(full), m.readTree(line))
  }
  private def names(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq

  test("a stopped context fails every remaining key and still renders the line") {
    var alive = true
    val drained = Seq.newBuilder[String]
    // rising probe times would mark the run load-dirty on a live context
    var p = 0.0
    val (full, line) = bench(Seq("a", "b", "c", "d"), { n =>
      drained += n
      n match {
        case "a" => Some(1.5)
        case _ => alive = false; None // an OOM stops the context mid-drain
      }
    }, () => alive, () => { p += 1; p })
    // a is re-run (past the 1 s floor), b dies; nothing is drained after
    assert(drained.result() === Seq("a", "a", "b"))
    for (j <- Seq(full, line)) {
      assert(names(j.get("failed")) === Seq("b", "c", "d"))
      assert(j.get("value").asDouble === 1.5)
      assert(j.get("queries").fieldNames.asScala.toSeq === Seq("a"))
      val load = j.get("load")
      assert(load.get("floor_verdict").asText === "unknown")
      assert(load.get("probe_post").isNull)
      assert(!load.get("load_dirty").asBoolean)
      assert(load.get("n_requeried").asInt === 0)
    }
    assert(p === 6.0) // the floor (4) and pre (2) probes ran; post did not
  }

  test("a live dirty run heals every key and names the measured commit") {
    val drained = Seq.newBuilder[String]
    var p = 0.0
    val (full, _) = bench(Seq("a", "b"), { n => drained += n; Some(0.5) },
      () => true, () => { p += 1; p })
    assert(drained.result() === Seq("a", "b", "a", "b"))
    val load = full.get("load")
    assert(load.get("load_dirty").asBoolean)
    assert(load.get("n_requeried").asInt === 2)
    assert(load.get("floor_verdict").asText === "healthy" ||
      load.get("floor_verdict").asText === "degraded")
    val sha = full.get("git_sha")
    assert(sha.isNull || sha.asText.matches("[0-9a-f]{40}"), sha)
  }

  test("a busy host with flat probes is not load-dirty and drains once") {
    val drained = Seq.newBuilder[String]
    val (full, _) = bench(Seq("a", "b"), { n => drained += n; Some(0.5) },
      () => true, () => 0.1, lavgStart = 8.0)
    assert(drained.result() === Seq("a", "b"))
    val load = full.get("load")
    assert(!load.get("load_dirty").asBoolean)
    assert(load.get("n_requeried").asInt === 0)
    assert(load.get("loadavg_start").asDouble === 8.0)
    assert(load.get("floor_verdict").asText === "healthy")
  }
}
