package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench.contentionVerdict — the semantics the r10 deliberate-load
  * experiments validated empirically (DESIGN.md): one spike threshold
  * (3× main-pass canary min) shared with the heal flagging and
  * bench_diff.py, the spike count over POST-heal per-query canaries, and
  * a sustained-load criterion healing cannot launder. */
class BenchVerdictSpec extends AnyFunSuite {

  private val flat = Seq.fill(100)(0.2)

  test("flat canaries, clean rows: contended=0, threshold = 3x min") {
    val rows = Seq.fill(100)(0.21)
    val (c, s, t) = Bench.contentionVerdict(flat, rows)
    assert(c == 0 && s == 0)
    assert(math.abs(t - 0.6) < 1e-9)
  }

  test("transient burst fully healed: contended=0 even though the main " +
      "series kept its spikes") {
    // 10% of main-pass canaries spiked (a 3-minute burst), but every
    // affected row's retry canary came back clean — the exact case the
    // pre-r10 verdict mislabeled permanently contaminated
    val main = Seq.fill(90)(0.2) ++ Seq.fill(10)(5.0)
    val postHeal = Seq.fill(100)(0.22) // all retries clean
    val (c, s, _) = Bench.contentionVerdict(main, postHeal)
    assert(s == 0, "healed rows must not count as spiked")
    assert(c == 0, "a fully-healed transient burst must read clean")
  }

  test("box loaded the whole time: retry canaries stay high, contended=1") {
    val main = Seq.fill(80)(0.2) ++ Seq.fill(20)(5.0)
    // retries were as dirty as the originals on 20 rows
    val postHeal = Seq.fill(80)(0.22) ++ Seq.fill(20)(4.8)
    val (c, s, _) = Bench.contentionVerdict(main, postHeal)
    assert(s == 20)
    assert(c == 1, "still-dirty rows past 5% must stay contended")
  }

  test("sustained load trips on the main-pass median alone — healing " +
      "cannot launder it") {
    // median 0.5 > 2x min 0.2: every individual row may look sub-spike
    // (no sample beyond 3x min) yet the box was slow throughout
    val main = Seq.fill(40)(0.2) ++ Seq.fill(60)(0.5)
    val postHeal = Seq.fill(100)(0.21) // nothing flagged, nothing healed
    val (c, s, _) = Bench.contentionVerdict(main, postHeal)
    assert(s == 0)
    assert(c == 1, "median > 2x min is contended regardless of spikes")
  }

  test("boundary: exactly 5% still-spiked rows is NOT contended; one " +
      "more row is") {
    val main = Seq.fill(100)(0.2)
    val at5 = Seq.fill(95)(0.3) ++ Seq.fill(5)(1.0)
    assert(Bench.contentionVerdict(main, at5)._1 == 0)
    val over5 = Seq.fill(94)(0.3) ++ Seq.fill(6)(1.0)
    assert(Bench.contentionVerdict(main, over5)._1 == 1)
  }

  test("degenerate inputs: empty series and empty rows stay clean " +
      "instead of dividing by zero") {
    assert(Bench.contentionVerdict(Nil, Nil) == ((0, 0, 0.0)))
    assert(Bench.contentionVerdict(flat, Nil)._1 == 0)
    assert(Bench.contentionVerdict(Nil, Seq(9.9))._1 == 0)
  }

  // ---- renderLine: the tail-survivable output layout (r11 verdict task
  // 2 — every driver BENCH_r*.json so far kept only the last ~2,000
  // chars of the line, losing the verdict fields that sat at the head)

  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** 231-query-shaped fixture: enough rows that the map alone overflows
    * a 2,000-char tail window, like the real suite. */
  private def bigLine: String = {
    val results = (1 to 231).map(i => (f"q_fixture_$i%03d", 0.5 + i * 0.01))
    val canaries = Seq.fill(231)(0.2)
    val cb = results.map { case (k, _) => (k, 0.2) }
    Bench.renderLine("/root/testdata/sf0.1", results, canaries, canaries,
      cb, healed = 0)
  }

  test("renderLine emits one valid JSON line with the contract fields") {
    val line = bigLine
    assert(!line.contains("\n"))
    val root = mapper.readTree(line)
    assert(root.get("metric").asText() == "total")
    assert(root.get("unit").asText() == "sec")
    assert(root.get("queries").size() == 231)
    assert(root.get("load_canary").get("contended").asInt() == 0)
    assert(math.abs(root.get("value").asDouble()
      - root.get("summary").get("total").asDouble()) < 1e-9)
  }

  test("any 2,000-char tail window preserves a complete, parseable " +
      "summary verdict") {
    val line = bigLine
    assert(line.length > 4000, "fixture must actually overflow the window")
    val tail = line.takeRight(2000)
    val idx = tail.lastIndexOf("\"summary\":")
    assert(idx >= 0, "summary must sit inside the last 2,000 chars")
    val summary = mapper.readTree(
      tail.substring(idx + "\"summary\":".length).stripSuffix("}"))
    assert(summary.get("rows").asInt() == 231)
    assert(summary.get("contended").asInt() == 0)
    assert(summary.get("healed").asInt() == 0)
    assert(summary.get("spike_threshold").asDouble() > 0)
    assert(summary.get("full_path").asText() == "BENCH_FULL.json")
  }

  test("the summary digest is the sha256 prefix of the exact queries-map " +
      "text, so a kept full artifact is authenticatable from the tail") {
    val line = bigLine
    val qStart = line.indexOf("\"queries\":") + "\"queries\":".length
    val qEnd = line.indexOf("}", qStart) + 1
    val qs = line.substring(qStart, qEnd)
    val want = mapper.readTree(line).get("summary")
      .get("queries_sha256_16").asText()
    val got = java.security.MessageDigest.getInstance("SHA-256")
      .digest(qs.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    assert(got == want)
  }

  // ---- failed runs: never a time (a query that breaks fast must not read
  // as a speed-up)

  test("a run that throws is an error, not a time; the min is taken over " +
      "successful runs only") {
    val boom = Harness.timed(throw new IllegalStateException("boom"))
    assert(boom.left.exists(_.contains("boom")))
    val ok = Harness.timed(Thread.sleep(20))
    assert(ok.exists(_ >= 0.02))
    assert(Harness.best(Seq(boom, ok)) == ok, "a fast failure never wins the min")
    assert(Harness.best(Seq(Right(2.0), Right(1.0))) == Right(1.0))
    assert(Harness.best(Seq(boom, Left("later"))) == Left("later"),
      "with no successful run the row is the last error")
  }

  private val stages = Seq(
    Profile.Stage(3, "count at X", ms = 1200, tasks = 4, taskMs = 3500,
      gcMs = 250, shufRead = 2L << 20, shufWrite = 0, input = 0),
    Profile.Stage(2, "map at X", ms = 800, tasks = 8, taskMs = 1500,
      gcMs = 0, shufRead = 0, shufWrite = 2L << 20, input = 1000))

  test("Profile: a failed run prints its error, never a time or a census") {
    val line = Profile.runLine("q_a", 2, Left("java.lang.RuntimeException: boom"),
      jobs = 3, stages)
    assert(line == "ERR q_a 2: java.lang.RuntimeException: boom")
    assert(!line.contains("sec="))
  }

  test("Profile: a successful run prints its time and the run's census") {
    val line = Profile.runLine("q_a", 1, Right(1.5), jobs = 3, stages)
    assert(line.startsWith("RUN q_a "))
    for (field <- Seq("sec=  1.500", "jobs=  3", "stages=  2", "tasks=   12",
        "taskSec=    5.00", "gcSec=  0.25", "shufR=     2MB", "shufW=     2MB"))
      assert(line.contains(field), s"$field missing from: $line")
  }

  test("Profile: a stage is labelled by the operation scope of its last RDD") {
    val aqeSite = "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768\n" +
      "java.base/java.util.concurrent.CompletableFuture..."
    assert(Profile.stageLabel(aqeSite, Seq(
      4 -> Some("Scan parquet "), 6 -> Some("Exchange"),
      5 -> Some("WholeStageCodegen (1)"))) == "Exchange")
    assert(Profile.stageLabel(aqeSite, Seq(
      9 -> Some("WholeStageCodegen (2)"), 8 -> Some("AQEShuffleRead"))) ==
      "WholeStageCodegen (2)")
    assert(Profile.stageLabel("count at X.scala:3", Seq(
      7 -> None, 6 -> Some("WholeStageCodegen (3)"))) == "WholeStageCodegen (3)",
      "a scope-less last RDD (toRdd's wrapper) yields to the last scoped one")
    assert(Profile.stageLabel("count at X.scala:3\nstack", Seq(2 -> None)) ==
      "count at X.scala:3", "a scope-less stage falls back to its call site")
    assert(Profile.stageLabel("count at X.scala:3", Nil) == "count at X.scala:3")
  }

  /** Two clean rows; `cleanLine` pins a clean run's line byte for byte. */
  private def smallLine(results: Seq[(String, Double)],
      errors: Seq[(String, String)]): String =
    Bench.renderLine("sf", results, Seq(0.2, 0.3), Seq(0.2, 0.3, 0.25),
      Seq("q_a" -> 0.2, "q_b" -> 0.3), healed = 1, errors = errors)

  private val cleanLine =
    """{"metric":"total","value":3.500,"unit":"sec","sf":"sf",""" +
      """"load_canary":{"workload":"q_group_agg","min":0.200,"median":0.300,""" +
      """"max":0.300,"contended":0,"spiked_samples":0,"healed":1,""" +
      """"spike_threshold":0.600,"series":[0.200,0.300,0.250]},""" +
      """"canary_before":{"q_a":0.200,"q_b":0.300},""" +
      """"queries":{"q_a":1.000,"q_b":2.500},""" +
      """"summary":{"total":3.500,"rows":2,"contended":0,"spiked_samples":0,""" +
      """"healed":1,"spike_threshold":0.600,"canary_min":0.200,""" +
      """"canary_median":0.300,"canary_max":0.300,"sf":"sf",""" +
      """"queries_sha256_16":"159c9a1119a42c81","full_path":"BENCH_FULL.json"}}"""

  test("when every run succeeds the line is byte-identical: no errors map") {
    assert(smallLine(Seq("q_a" -> 1.0, "q_b" -> 2.5), Nil) == cleanLine)
  }

  test("a row with no successful run sits in an errors map ahead of " +
      "canary_before, and is left out of queries and total") {
    val line = smallLine(Seq("q_a" -> 1.0), Seq("q_b" -> "java.lang.RuntimeException: \"x\""))
    val root = mapper.readTree(line)
    assert(root.get("errors").get("q_b").asText() == "java.lang.RuntimeException: \"x\"")
    assert(line.indexOf("\"errors\":") < line.indexOf("\"canary_before\":"))
    assert(root.get("queries").size() == 1 && !root.get("queries").has("q_b"))
    assert(root.get("value").asDouble() == 1.0)
    assert(root.get("summary").get("total").asDouble() == 1.0)
    assert(root.get("summary").get("rows").asInt() == 1)
  }
}
