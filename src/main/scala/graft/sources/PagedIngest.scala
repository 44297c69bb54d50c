package graft.sources

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}

/** Cursor-paginated ingest adapter — the engine-side seam for the reference's
  * rate-limited collection loops (`Data Collection/Reddit.py:23-59`: HTTP GET
  * with `after` cursor + 100 req/min throttle; 4chan/YouTube variants).
  *
  * Boundary design: a cursored remote API is inherently serial, so pages
  * arrive as driver-side batches — but each page immediately becomes a
  * distributed DataFrame handed to the sink (durable parquet append, JDBC,
  * or a streaming source's staging dir), so at most ONE page of rows ever
  * sits on the driver. Rate limiting, auth and retries live in the
  * injectable client layer (same seam shape as `Multimodal.Decoder`); the
  * loop itself is deterministic and testable.
  */
object PagedIngest {

  /** One page fetch: rows + the next cursor (None = stream exhausted).
    *
    * Cursor contract: when more data exists, the returned cursor MUST differ
    * from the one passed in — the default stuck-cursor guard treats an echoed
    * cursor as a client bug and stops the run. Queue/tail-style endpoints
    * that legitimately serve new rows under a constant cursor exist; ingest
    * them with `detectStuckCursor = false` and bound the run with
    * `maxFetches` instead. */
  trait PageClient[T] extends Serializable {
    def fetch(cursor: Option[String]): (Seq[T], Option[String])
  }

  /** Result of one ingest run: fetches issued, non-empty pages written, rows
    * written, and the cursor to resume from.
    *
    * Resume contract: `resumeCursor` is ALWAYS safe to persist and pass as
    * the next run's `startCursor` without duplicating a page. It is None both
    * when the chain is exhausted and when the run stopped on a stuck cursor —
    * in the stuck case the repeated cursor's page was already written, so
    * resuming from it would duplicate that page. The raw repeated cursor is
    * exposed separately in `stuckAt` for diagnostics/manual override;
    * distinguish the two None cases with `stuckAt.isDefined`. */
  final case class IngestResult(fetches: Int, pages: Int, rows: Long,
                                resumeCursor: Option[String],
                                stuckAt: Option[String] = None)

  /** Drain the cursor chain, converting each page to a DataFrame and handing
    * it to `sink` (append-mode by convention). `maxFetches` bounds the number
    * of remote CALLS in one run (the reference's scheduler slot) — counting
    * fetches, not non-empty pages, so an API that hands out cursors with
    * empty pages cannot loop unboundedly. Resume by persisting
    * `resumeCursor` with the data and passing it as `startCursor` next run
    * (duplicate-safe by construction — see [[IngestResult]]).
    *
    * `detectStuckCursor = false` opts out of the echoed-cursor guard for
    * queue/tail-style clients whose cursor is legitimately constant (see the
    * [[PageClient]] contract); such runs stop only on exhaustion or
    * `maxFetches`. */
  def ingest[T: Encoder](spark: SparkSession, client: PageClient[T],
                         startCursor: Option[String] = None,
                         maxFetches: Int = Int.MaxValue,
                         detectStuckCursor: Boolean = true)(
      sink: DataFrame => Unit): IngestResult = {
    var cursor = startCursor
    var fetches = 0
    var pages = 0
    var rows = 0L
    var exhausted = false
    var stuck = false
    while (!exhausted && !stuck && fetches < maxFetches) {
      val (batch, next) = client.fetch(cursor)
      fetches += 1
      // a buggy/adversarial API that echoes the cursor it was given would
      // otherwise re-fetch (and duplicate) the same page until maxFetches;
      // this page was fetched once, so write it, then stop instead of
      // following the repeated cursor
      stuck = detectStuckCursor && next.isDefined && next == cursor
      if (batch.nonEmpty) {
        sink(spark.createDataset(batch).toDF())
        pages += 1
        rows += batch.size
      }
      cursor = next
      exhausted = next.isEmpty
    }
    IngestResult(fetches, pages, rows,
      resumeCursor = if (exhausted || stuck) None else cursor,
      stuckAt = if (stuck) cursor else None)
  }

  /** Fault/throttle policy for [[resilient]] — reference semantics: Airflow's
    * exponential-backoff retries (`Data Collection/Airflow.py:17-20`) and
    * Reddit's 100-requests-per-minute budget (`Data Collection/
    * Reddit.py:23-24`).
    *
    * @param maxRetries        additional attempts after the first failure
    *                          (0 = fail immediately)
    * @param initialBackoffMs  sleep before the first retry
    * @param backoffFactor     multiplier applied per subsequent retry
    * @param requestsPerMinute sliding-window request budget (0 = unlimited)
    */
  final case class RetryPolicy(maxRetries: Int = 3,
                               initialBackoffMs: Long = 1000L,
                               backoffFactor: Double = 2.0,
                               requestsPerMinute: Int = 0)

  /** Wrap a [[PageClient]] with retry/backoff + rate limiting, keeping policy
    * out of both the ingest loop and individual clients. The clock and sleep
    * functions are injectable so tests run instantly against a fake clock;
    * production uses the defaults. NOT thread-safe — the cursor chain is
    * serial by nature, one wrapper per ingest run. */
  def resilient[T](inner: PageClient[T], policy: RetryPolicy,
                   clock: () => Long = () => System.nanoTime() / 1000000L,
                   sleep: Long => Unit = Thread.sleep): PageClient[T] =
    new PageClient[T] {
      // sliding 60 s window of request timestamps (ms), used only when throttling
      private val window = scala.collection.mutable.Queue.empty[Long]

      private def throttle(): Unit = if (policy.requestsPerMinute > 0) {
        val now = clock()
        window.dequeueWhile(_ <= now - 60000L)
        if (window.size >= policy.requestsPerMinute) {
          val wait = window.head + 60000L - now
          if (wait > 0) sleep(wait)
          val after = clock()
          window.dequeueWhile(_ <= after - 60000L)
        }
        window.enqueue(clock())
      }

      def fetch(cursor: Option[String]): (Seq[T], Option[String]) = {
        var attempt = 0
        var backoff = policy.initialBackoffMs
        while (true) {
          throttle() // every attempt is a real request — each takes a budget slot
          try return inner.fetch(cursor)
          catch {
            case NonFatal(e) =>
              attempt += 1
              if (attempt > policy.maxRetries) throw e
              sleep(backoff)
              backoff = (backoff * policy.backoffFactor).toLong
          }
        }
        throw new IllegalStateException("unreachable")
      }
    }
}
