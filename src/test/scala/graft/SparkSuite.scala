package graft

import graft.queries.GenerationManifest
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. `getOrCreate` means the JVM
  * (sbt forks one test JVM) pays session startup once across suites.
  * local[4]/4 shuffle partitions keep 1000-row fixtures fast while still
  * exercising multi-partition exchanges.
  */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // explain strings are diagnostics, not results: a deep composed
    // plan (CorpusPipeline all-stages) once OOMed the test JVM purely
    // from AQE's plan-change string — bound it (Spark truncates with a
    // marker past the cap)
    .config("spark.sql.maxPlanStringLength", "8000000")
    .getOrCreate()

  override protected def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    super.beforeAll()
  }

  /** Suite ISOLATION on the shared session: a test that exercises a
    * caller-owned plain form (q13's persist convention) without the
    * loan wrapper leaves its cache behind, and with one JVM-wide
    * session that leak lands on whichever LATER suite asserts
    * `cacheIsEmpty` — the round-14 full-run failure mode (DedupOpsSpec
    * plain forms → every LabelIndexSpec hygiene assert red, all green
    * in isolation). Per-test asserts still catch intra-suite leaks;
    * this hook only stops them from crossing suite boundaries. */
  override protected def afterAll(): Unit = {
    try spark.catalog.clearCache()
    finally super.afterAll()
  }

  /** Simulate a crash at ONE named store-protocol boundary — a
    * [[GenerationManifest.faultHook]] tag with its path, e.g.
    * `flip:before:<path>` or `write:buckets:<path>`: run `body` with a
    * hook that throws [[InjectedCrash]] the `nth` time `tag` fires,
    * swallow that crash (the mutation died there), and fail if the
    * boundary was never reached. */
  def crashAt(tag: String, nth: Int = 1)(body: => Unit): Unit = {
    var seen = 0
    GenerationManifest.faultHook = { t =>
      if (t == tag) {
        seen += 1
        if (seen == nth) throw new InjectedCrash(t)
      }
    }
    try body
    catch { case _: InjectedCrash => () }
    finally GenerationManifest.faultHook = _ => ()
    assert(seen >= nth, s"boundary $tag (occurrence $nth) was never reached")
  }

  /** Smallest fixture scale — expected values in the specs were computed
    * independently with DuckDB over the same parquet. */
  val sf = "/root/testdata/sf0.001"

  /** Latest reported state-store row total across the query's stateful
    * operators — the number that must STABILIZE (not grow with input)
    * for a streaming query to survive an unbounded source. Read from
    * the most recent progress that carries state metrics (a trailing
    * no-data batch reports them too, which is exactly when eviction
    * shows up). */
  def stateRowsTotal(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.reverseIterator.collectFirst {
      case p if p.stateOperators.nonEmpty =>
        p.stateOperators.map(_.numRowsTotal).sum
    }.getOrElse(0L)

  /** Shared state-boundedness guard: drive `epochs` epochs through a
    * running query — `feed(i)` must inject epoch i's data AND advance
    * event time far enough that epoch i-1's state is expirable — and
    * assert the post-epoch state size stabilizes instead of growing
    * monotonically. A query leaking state grows ~linearly in the epoch
    * count; an eviction-correct one holds ≤ a couple of epochs' worth
    * regardless of how many ran. Returns the sizes for extra
    * per-query assertions. */
  def assertStateStabilizes(
      q: org.apache.spark.sql.streaming.StreamingQuery,
      epochs: Int)(feed: Int => Unit): Seq[Long] = {
    val sizes = (0 until epochs).map { i =>
      feed(i); q.processAllAvailable(); stateRowsTotal(q)
    }
    // steady state: the last epoch may hold its own rows plus the
    // not-yet-evicted previous epoch (watermarks advance between
    // batches), but never the whole history
    val perEpoch = sizes.head max 1L
    assert(sizes.last <= 2 * perEpoch,
      s"state grew with epoch count — leak: $sizes")
    sizes
  }
}

/** The simulated crash [[SparkSuite.crashAt]] and CrashSweepSpec throw
  * from the manifest's fault hook. */
final class InjectedCrash(tag: String)
  extends RuntimeException(s"injected crash at $tag")
