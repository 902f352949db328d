package graft.queries

/** Strict parsing for the env knobs that switch or size engine behaviour
  * (`SPARK_GRAFT_PREFLIGHT`, `SPARK_GRAFT_REP_DRAIN`, `SPARK_GRAFT_BUCKET_CAP`,
  * `SPARK_GRAFT_BUCKET_STATE_CAP`, `SPARK_GRAFT_RESIDUE_MOD`).
  *
  * For [[bool]] only the literal strings "0" and "1" are meaningful; anything
  * else (an accidental "true", "yes", or empty export) warns once per knob
  * name per JVM and falls through to the caller's built-in default. Before
  * round 14 the knobs disagreed on this: some parsed `map(_ == "1")` (so
  * "true" silently force-DISABLED a feature) and one parsed `contains("0")`
  * (so garbage silently forced it ON) — a mistyped export changed behaviour
  * without any tell in the log.
  */
object Knobs {
  // one warning per knob name per JVM: env vars cannot change mid-process,
  // so repeating the line on every lookup is pure noise (r15, VERDICT nit)
  private val warned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Some(true)/Some(false) for "1"/"0"; None (with a once-per-name stderr
    * warning) for any other set value; None silently when unset.
    */
  def bool(name: String): Option[Boolean] =
    sys.env.get(name).flatMap {
      case "0" => Some(false)
      case "1" => Some(true)
      case other =>
        if (warned.add(name))
          System.err.println(s"[graft] ignoring $name='$other' (expected 0 or " +
            "1); falling through to the built-in gate")
        None
    }

  /** Some(n) for a positive decimal integer; None (with a once-per-name
    * stderr warning) for any other set value; None silently when unset.
    * Same strict-parse contract as [[bool]] — a mistyped export must warn,
    * never silently change behaviour or throw mid-run.
    */
  def int(name: String): Option[Int] =
    sys.env.get(name).flatMap { v =>
      val n = v.toIntOption.filter(_ > 0)
      if (n.isEmpty && warned.add(name))
        System.err.println(s"[graft] ignoring $name='$v' (expected a positive " +
          "integer); falling through to the built-in default")
      n
    }
}
