package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM — Test/fork := true). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Smallest SF: specs check semantics; oracle parity runs at sf0.01. */
  val sf = "/root/testdata/sf0.001"

  /** Run `body` under the durable lineage posture: [[Lineage.ReliableKey]]
    * on and the context's checkpoint directory at a fresh temp directory,
    * which `body` gets. Both are restored afterwards — every suite shares
    * the session. */
  def withDurableLineage[A](body: java.nio.file.Path => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    withLineagePosture("true", Some(dir.toString))(body(dir))
  }

  /** Run `body` with [[Lineage.ReliableKey]] set to `value` and the
    * context's checkpoint directory at `checkpointDir` (`None` clears
    * it), restoring both afterwards. */
  def withLineagePosture[A](value: String, checkpointDir: Option[String])(body: => A): A = {
    val sc = spark.sparkContext
    val savedDir = sc.getCheckpointDir
    val savedValue = spark.conf.getOption(Lineage.ReliableKey)
    checkpointDir.fold(org.apache.spark.CheckpointDirs.set(sc, None))(sc.setCheckpointDir)
    spark.conf.set(Lineage.ReliableKey, value)
    try body
    finally {
      savedValue.fold(spark.conf.unset(Lineage.ReliableKey))(
        spark.conf.set(Lineage.ReliableKey, _))
      org.apache.spark.CheckpointDirs.set(sc, savedDir)
    }
  }

  /** Poll `what` every 200 ms until `p` holds or `timeoutMs` passes;
    * returns the LAST probe (the caller asserts on it — keeping the
    * failure message domain-specific). The sink poller behind every
    * processing-time streaming test, where `processAllAvailable` never
    * idles (the engine self-triggers batches to evict TTL state). */
  def pollSink[A](timeoutMs: Long = 60000)(what: => A)(p: A => Boolean): A = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var c = what
    while (!p(c) && System.currentTimeMillis() < deadline) {
      Thread.sleep(200); c = what
    }
    c
  }

  /** The TTL-expiry poll harness shared by the four `ttl:`-bearing
    * processors' specs: state eviction is WALL-CLOCK, so one fixed sleep
    * flakes on a loaded box. Each attempt sleeps a widening interval
    * (`stepMs`·attempt) and then runs `attempt` — feed fresh probe data,
    * read the sink, return true iff the processor provably started from
    * fresh state (false = the state survived this attempt's sleep).
    * Fails the test if no attempt observes expiry. */
  def awaitTtlExpiry(maxAttempts: Int = 5, stepMs: Long = 5000L)(
      attempt: Int => Boolean): Unit = {
    var expired = false
    var i = 0
    while (!expired && i < maxAttempts) {
      i += 1
      Thread.sleep(stepMs * i)
      expired = attempt(i)
    }
    assert(expired, s"state never expired after $i widening TTL sleeps")
  }
}

object SparkSpec {
  /** The production session config (codegen cache, extensions, AQE,
    * parquet settings), with the web UI off for the test JVM. */
  lazy val session: SparkSession = GraftSession.builder("graft-test", "local[4]", 4)
    .config("spark.ui.enabled", false)
    .getOrCreate()
}
