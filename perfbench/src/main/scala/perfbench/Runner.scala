package perfbench

/** Outcome of a measured loop. `walls` holds the wall seconds of iterations
  * that ran AND passed their output check (`passed` their 0-based indices);
  * an iteration that threw or produced a wrong output is counted in `failed`
  * and never becomes a timing.
  */
final case class Measured(walls: Vector[Double], passed: Vector[Int], attempted: Int,
    failed: Int, errors: Vector[String])

object Runner {

  /** Run `iterate` (given its 0-based index) until `budgetS` seconds of loop
    * time have passed (and at least `minIters` times, at most `maxIters`).
    * Only `iterate` is inside
    * the wall; `check` (returns an error message on a wrong output) and
    * `cleanup` (deletes what the iteration left behind) run outside it.
    * The loop stops early after `maxConsecutiveFailures` failures in a row:
    * a broken workload must not burn the whole budget.
    */
  def loop[A](budgetS: Double, minIters: Int, maxIters: Int,
      maxConsecutiveFailures: Int = 3)(iterate: Int => A)(
      check: A => Option[String])(cleanup: () => Unit): Measured = {
    val startNs = System.nanoTime()
    var walls = Vector.empty[Double]
    var passed = Vector.empty[Int]
    var attempted = 0
    var failed = 0
    var streak = 0
    var errors = Vector.empty[String]
    def elapsedS = (System.nanoTime() - startNs) / 1e9
    while (attempted < maxIters && streak < maxConsecutiveFailures &&
      (attempted < minIters || elapsedS < budgetS)) {
      attempted += 1
      val t0 = System.nanoTime()
      val outcome =
        try Right(iterate(attempted - 1))
        catch { case e: Exception => Left(oneLine(e)) }
      val wall = (System.nanoTime() - t0) / 1e9
      val error = outcome match {
        case Left(msg) => Some(msg)
        case Right(a) =>
          try check(a)
          catch { case e: Exception => Some("check threw: " + oneLine(e)) }
      }
      error match {
        case None =>
          walls :+= wall
          passed :+= attempted - 1
          streak = 0
        case Some(msg) =>
          failed += 1
          streak += 1
          errors :+= msg
      }
      cleanup()
    }
    Measured(walls, passed, attempted, failed, errors)
  }

  def oneLine(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .replaceAll("\\s+", " ").take(300)
}
