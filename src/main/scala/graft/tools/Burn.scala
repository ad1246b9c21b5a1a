package graft.tools

/**
 * In-JVM CPU-burn calibration of the host's thread-scaling ceiling.
 *
 * The scaling protocol (BENCH/BASELINE.md) brackets every headline wall
 * with a pure-CPU burn: fixed total work, no Spark, no allocation — what
 * the box can physically deliver going from `low` to `high` concurrent
 * workers in the current ambient window (SMT sharing, hypervisor
 * neighbors). `ceiling = (t_low / t_high) / (high / low)` is the maximum
 * scaling efficiency ANY software can show for low→high threads here;
 * measured Spark efficiencies are read against it.
 *
 * Previously this was a hand-run multiprocessing script whose numbers were
 * transcribed into the bench notes; emitting it from the bench JSONs makes
 * every run self-bracketing (VERDICT_r5 next-round #7).
 */
object Burn {

  /** Branch-free 64-bit mix loop — pure register arithmetic, so the burn
    * measures CPU issue capacity, not memory bandwidth or allocator. FOUR
    * independent chains per iteration: a single dependency chain is
    * latency-bound and SMT hides it almost perfectly (measured ceiling
    * 0.96 on this box — useless as a bracket); four chains saturate the
    * core's ALU ports, so two hyperthreads of one physical core contend
    * and the ceiling reflects physical-core capacity, matching the
    * multiprocessing burn the r2–r5 protocol numbers were read against. */
  private def work(iters: Long): Long = {
    var a = 0x9E3779B97F4A7C15L; var b = 0xC2B2AE3D27D4EB4FL
    var c = 0x165667B19E3779F9L; var d = 0x27D4EB2F165667C5L
    var i = 0L
    while (i < iters) {
      a = a * 6364136223846793005L + 1442695040888963407L; a ^= a >>> 33
      b = b * 6364136223846793005L + 1442695040888963407L; b ^= b >>> 29
      c = c * 6364136223846793005L + 1442695040888963407L; c ^= c >>> 31
      d = d * 6364136223846793005L + 1442695040888963407L; d ^= d >>> 27
      i += 1
    }
    a ^ b ^ c ^ d
  }

  private def wall(threads: Int, chunks: Int, itersPerChunk: Long): Double = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val t0 = System.nanoTime()
      val futs = (0 until chunks).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = work(itersPerChunk)
        })
      }
      futs.foreach(_.get())
      (System.nanoTime() - t0) / 1e9
    } finally pool.shutdown()
  }

  final case class Ceiling(tLow: Double, tHigh: Double, low: Int, high: Int) {
    def value: Double = (tLow / tHigh) / (high.toDouble / low)
    def json: String = {
      // Locale.ROOT: %-formatting under a comma-decimal locale would emit
      // invalid JSON
      def n(fmt: String, v: Double) = fmt.formatLocal(java.util.Locale.ROOT, v)
      s""""burn":{"t$low":${n("%.2f", tLow)},"t$high":${n("%.2f", tHigh)},""" +
        s""""ceiling":${n("%.3f", value)}}"""
    }
  }

  /** Measure the thread-scaling ceiling from a quarter of this host's cores
    * to all of them (~10 s — long enough that pool startup and scheduler
    * jitter are noise). Four chunks per high thread keep the tail balanced
    * and the work proportional to the core count, so the wall is about the
    * same on any host; one warm round first (JIT). */
  def measure(itersPerChunk: Long =
                sys.env.getOrElse("SPARK_GRAFT_BURN_ITERS", "120000000").toLong): Ceiling = {
    val high = Runtime.getRuntime.availableProcessors
    val low = math.max(1, high / 4)
    val chunks = 4 * high
    wall(high, chunks, itersPerChunk / 8) // JIT warmup, excluded
    val tl = wall(low, chunks, itersPerChunk)
    val th = wall(high, chunks, itersPerChunk)
    Ceiling(tl, th, low, high)
  }
}
