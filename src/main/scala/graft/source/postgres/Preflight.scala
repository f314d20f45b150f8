package graft.source.postgres

import graft.config.StreamDef

/** V1 — the pre-flight validator: catalog checks run over the bootstrap's
  * own [[PgSession]] before anything is created
  * (reference: src/source/postgres/validator.zig:76-179 and the startup
  * wiring in src/main.zig:298-334).
  *
  * Differences from the reference, on purpose:
  *  - the reference aborts on the FIRST failing check; this runner executes
  *    the whole list and reports every failure at once (one ops round-trip
  *    to a working config instead of N), then aborts before the pipeline
  *    starts — same fail-before-start contract, better diagnostics.
  *  - each failure carries the reference's "Fix:" hint verbatim in spirit,
  *    so the error a user sees is actionable without reading source.
  */
object Preflight {

  /** One boolean catalog probe: `sql` must yield a single row whose first
    * column reads as SQL TRUE. */
  final case class Check(name: String, sql: String, fix: String)

  final case class Failure(check: Check, detail: String) {
    def render: String = s"${check.name}: $detail\n  Fix: ${check.fix}"
  }

  final class PreflightException(val failures: Seq[Failure])
    extends RuntimeException(
      s"preflight validation failed (${failures.size} check(s)):\n" +
        failures.map(f => s" - ${f.render}").mkString("\n"))

  // ---- the probe SQL ----
  /** Resource/column names are interpolated into string LITERALS below —
    * double any quote so a hostile config value can't break out of the
    * literal (the config layer also restricts these, belt + braces). */
  private def lit(s: String): String = s.replace("'", "''")
  /** server_version_num ≥ 120000 (Postgres 12+). */
  val serverVersion = "SELECT current_setting('server_version_num')::int >= 120000"
  val walLevel = "SELECT current_setting('wal_level') = 'logical'"
  def tableExists(resource: String) =
    s"SELECT to_regclass('${lit(resource)}') IS NOT NULL"
  def columnExists(resource: String, column: String) =
    s"""SELECT EXISTS (SELECT 1 FROM pg_attribute
       | WHERE attrelid = to_regclass('${lit(resource)}')
       |   AND attname = '${lit(column)}' AND NOT attisdropped)""".stripMargin
  /** REPLICA IDENTITY FULL required for delete-tracking streams
    * (validator.zig:151-179). */
  def replicaIdentityFull(resource: String) =
    s"SELECT relreplident = 'f' FROM pg_class WHERE oid = to_regclass('${lit(resource)}')"

  /** The check list for a stream set, in the reference's startup order
    * (main.zig:298-334): server version, wal_level, then per stream the
    * table, its routing-key column, and — only when the stream tracks
    * DELETE — REPLICA IDENTITY FULL (any other identity drops non-key
    * columns from the DELETE old row). */
  def checksFor(streams: Seq[StreamDef]): Seq[Check] = {
    val global = Seq(
      Check("server_version", serverVersion,
        "PostgreSQL 12+ is required for logical replication"),
      Check("wal_level", walLevel,
        "set wal_level = logical in postgresql.conf and restart PostgreSQL"))
    val perStream = streams.map(_.normalized).flatMap { s =>
      Seq(
        Check(s"table_exists[${s.resource}]", tableExists(s.resource),
          s"create the table or fix stream '${s.name}'s resource name"),
        Check(s"routing_key[${s.resource}.${s.routingKey}]",
          columnExists(s.resource, s.routingKey),
          s"set stream '${s.name}'s routing_key to an existing column")) ++
        (if (s.hasDeleteOperation)
          Seq(Check(s"replica_identity[${s.resource}]",
            replicaIdentityFull(s.resource),
            s"ALTER TABLE ${s.resource} REPLICA IDENTITY FULL"))
        else Nil)
    }
    global ++ perStream
  }

  /** Execute every check; empty result = ready to start. A query the server
    * rejects is a failure of that check (captured, not thrown) — the session
    * stays usable and the remaining checks still run, so one broken probe
    * doesn't mask the rest. */
  def run(s: PgSession, streams: Seq[StreamDef]): Seq[Failure] =
    checksFor(streams).flatMap { c =>
      try {
        val r = s.simpleQuery(c.sql)
        if (r.rows.isEmpty) Some(Failure(c, "check query returned no rows"))
        else if (r.rows.head.headOption.contains("t")) None
        else Some(Failure(c, "check returned false"))
      } catch {
        case e: IllegalStateException => Some(Failure(c, e.getMessage))
      }
    }

  /** Fail-before-start gate: throws [[PreflightException]] listing every
    * failure. Call before the bootstrap touches the catalog (the reference
    * validates before it touches the slot, main.zig:298). */
  def requirePass(s: PgSession, streams: Seq[StreamDef]): Unit = {
    val failures = run(s, streams)
    if (failures.nonEmpty) throw new PreflightException(failures)
  }
}
