package graft

/** Dump-dir context for STATEFUL oracles (round-14, ADVICE r13): a few
  * oracle SQL strings replay engine-recorded state (the BPE token table,
  * the GK tercile boundaries) keyed by the sf dir their gate query ran on.
  * Resolving that state through "the last gate run" is wrong as soon as a
  * session gates more than one dir before dumping oracles — so [[Verify]]
  * sets THIS context to the dir being dumped before it evaluates the
  * queries' oracle thunks (`SparkEntry.oracleSql`), and the stateful
  * oracles resolve through it first, falling back to last-gate-run only
  * for ad-hoc (non-Verify) callers. */
object OracleDir {
  private val ref = new java.util.concurrent.atomic.AtomicReference[String](null)
  def set(dir: String): Unit = ref.set(dir)
  def get: Option[String] = Option(ref.get)
}
