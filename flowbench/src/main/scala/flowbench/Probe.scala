package flowbench

/** The seam between a workload and the tracing. A workload wraps every
  * call it makes into an engine layer in `span`; untraced runs use
  * [[Probe.Off]], which records nothing and registers no listener. */
trait Probe {
  def span[T](name: String, op: String = "")(f: => T): T
}

object Probe {
  object Off extends Probe {
    def span[T](name: String, op: String)(f: => T): T = f
  }
}
