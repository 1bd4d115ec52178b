package graft.operators

/** Overlap INDEPENDENT eager constructions from the driver — the
  * optimization guide's §2.6 pattern ("Overlap independent jobs"):
  * Spark's scheduler happily runs several jobs at once inside one
  * application; actions are only sequential because driver code calls
  * them sequentially. The composed DAGs here (p4/p5's ingest, d15's
  * two pair generators) build legs whose CONSTRUCTION executes jobs —
  * eager checkpoint cuts, iterative Lloyd/label-propagation fits —
  * and the legs share no frames, so running them from two driver
  * threads lets the second leg's stages back-fill the cores the first
  * leg's small sequential stages leave idle (the iterative fits
  * especially: each round is a handful of short tasks followed by a
  * driver round-trip, single-digit-percent core utilization on a
  * 32-core local master and worse on a cluster).
  *
  * Scope contract: the two thunks MUST be independent — neither may
  * read a frame the other cuts or uncuts mid-flight (sharing an
  * already-CUT upstream frame is fine: block reads are thread-safe).
  * Spark-side state used here is thread-safe by design: the block
  * manager serializes per-partition materialization, [[Checkpoints]]
  * keeps no state of its own, and
  * [[graft.Timed]] regions accumulate via DoubleAdder (two CONCURRENT
  * `fit` regions sum both walls — a fit_s reading can then exceed the
  * shot's elapsed fit window; the bench README documents this).
  *
  * Failure contract: both thunks are AWAITED before anything
  * propagates — an orphaned leg still running jobs would bleed into
  * the caller's next measurement, or have its checkpoint blocks
  * dropped out from under it by inter-query bench hygiene. The first
  * failure (caller-thread's first) rethrows with the other failure,
  * if any, attached as suppressed.
  */
object Par {
  def both[A, B](a: => A, b: => B): (A, B) = {
    // One plain daemon thread per call, not a shared pool: calls are
    // a-few-per-query, the thread inherits the caller's
    // InheritableThreadLocal Spark local properties (job group /
    // description) at construction, and nothing outlives the call.
    @volatile var rb: Either[Throwable, B] = null
    val t = new Thread(() => {
      rb = try Right(b) catch { case e: Throwable => Left(e) }
    }, "graft-par")
    t.setDaemon(true)
    t.start()
    val ra =
      try Right(a)
      catch { case e: Throwable => Left(e) }
    t.join()
    (ra, rb) match {
      case (Right(x), Right(y)) => (x, y)
      case (Left(ea), Left(eb)) => ea.addSuppressed(eb); throw ea
      case (Left(ea), _) => throw ea
      case (_, Left(eb)) => throw eb
    }
  }
}
