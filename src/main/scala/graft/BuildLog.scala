package graft

/** Build-attribution log for family-shared memoized relations (the
  * round-8 answer to "attribute the dedup-family bench delta before
  * optimizing it"): every memo MISS — and, for the relations that
  * eagerly materialize, the build wall time — is appended to
  * `target/memo_log.txt` and mirrored to stderr. Reading the log next
  * to the bench's per-query map shows exactly which qid paid each
  * family build (the first family member in sorted bench order) and
  * how much of its headline number was shared-ETL vs per-query work.
  * Never on stdout: the bench's stdout is a driver-parsed contract.
  */
object BuildLog {
  private val path = java.nio.file.Paths.get("target/memo_log.txt")
  // append-only with a pid-tagged RUN HEADER on each JVM's first write:
  // a reader separates runs by header instead of trusting truncation.
  // (An earlier truncate-on-first-write draft destroyed a concurrent
  // JVM's in-flight lines — two graft JVMs on one host is a supported
  // topology, see Scratch.own — and append-only can't.) Every line also
  // carries the pid, so even interleaved concurrent runs attribute
  // cleanly.
  private val pid = ProcessHandle.current().pid()
  private var headerWritten = false
  def log(msg: String): Unit = synchronized {
    val line = f"[graft pid=$pid%d t=${System.currentTimeMillis()}%d] $msg"
    System.err.println(line)
    try {
      java.nio.file.Files.createDirectories(path.getParent)
      val payload =
        (if (headerWritten) "" else f"---- run start pid=$pid%d t=${System.currentTimeMillis()}%d ----%n") +
          line + "\n"
      java.nio.file.Files.write(path, payload.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      headerWritten = true
    } catch { case _: Throwable => () }
  }
}
