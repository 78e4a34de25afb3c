package graft

/** How a harness reports a query that threw. */
object Failure {

  /** The exception and its root cause, on one line. */
  def describe(e: Throwable): String = {
    var root = e
    while (root.getCause != null && (root.getCause ne root)) root = root.getCause
    s"${e.getClass.getName}: ${e.getMessage} " +
      s"(cause ${root.getClass.getName}: ${root.getMessage})"
  }

  /** The one stderr line a harness prints for a query that threw. */
  def report(tool: String, name: String, e: Throwable): Unit =
    System.err.println(s"[$tool] $name failed: ${describe(e)}")
}
