package graft.queries

import scala.annotation.tailrec

/** The one fixpoint loop of the iterative operators (the frontier
  * wave, k-core peeling, Bellman-Ford, label spreading, and NearDup's
  * min-label and star-contraction cluster resolution). Each caller
  * brings its own step and its own convergence certificate, a value
  * that cannot stay equal across a step that changed the state (a
  * monotone count, `(count, Σd)`, a decimal label sum, a
  * `(count, xor-hash)` fingerprint). The step decides its own
  * checkpoint mode; the certificate is the round's probe action. */
object Fixpoint {

  /** Steps from `init` until a new state's certificate equals the one
    * before it, and returns the last state that changed together with
    * the number of steps that changed something (the gated `rounds`
    * certificate). `c0` is what the first step's certificate is
    * compared with: `cert(init)`, or a value no real certificate takes
    * when the first step can never be the fixpoint (so the initial
    * state pays no probe). Fails loudly once `cap` steps have run
    * without reaching the fixpoint. */
  def apply[S, C](init: S, c0: C, cap: Int = Int.MaxValue,
      what: String = "fixpoint")(cert: S => C)(step: S => S): (S, Int) = {
    @tailrec def go(s: S, c: C, changed: Int): (S, Int) = {
      require(changed < cap, s"$what did not converge in $cap rounds")
      val next = step(s)
      val nc = cert(next)
      if (nc == c) (s, changed) else go(next, nc, changed + 1)
    }
    go(init, c0, 0)
  }
}
