package graft

/** The one stderr line a harness prints for a query that threw. */
object Failure {
  def report(tool: String, name: String, e: Throwable): Unit = {
    var root = e
    while (root.getCause != null && (root.getCause ne root)) root = root.getCause
    System.err.println(s"[$tool] $name failed: ${e.getClass.getName}: " +
      s"${e.getMessage} (cause ${root.getClass.getName}: ${root.getMessage})")
  }
}
