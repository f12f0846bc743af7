package graft.queries

/** Oracle-SQL fragments shared by more than one registry file: the
  * replays of a kernel's exact IEEE op sequence (see the paired
  * kernel's scaladoc for the contract) and the CTEs several rows'
  * oracles start from. A fragment used by one file sits beside that
  * file's rows.
  */
object OracleSql {

  /** The DuckDB replay of [[graft.functions.DetLnImpl.eval]]: same
    * decomposition ladders, same Horner chain, same parenthesized op
    * order, bound once via nested single-element list lambdas.
    * `e` must be a SQL expression of a POSITIVE BIGINT.
    */
  def detLn(e: String): String = {
    val lLadder = (62 to 1 by -1)
      .map(k => s"WHEN n >= ${BigInt(1) << k} THEN $k")
      .mkString("CASE ", " ", " ELSE 0 END")
    val pLadder = (62 to 1 by -1)
      .map(k => s"WHEN n >= ${BigInt(1) << k} THEN ${BigInt(1) << k}")
      .mkString("CASE ", " ", " ELSE 1 END")
    val horner = "((((((((1.0/19.0) * s + 1.0/17.0) * s + 1.0/15.0)" +
      " * s + 1.0/13.0) * s + 1.0/11.0) * s + 1.0/9.0) * s + 1.0/7.0)" +
      " * s + 1.0/5.0) * s + 1.0/3.0"
    s"""list_transform([CAST(($e) AS BIGINT)], n ->
       |  list_transform([CAST(n AS DOUBLE)
       |      / CAST(($pLadder) AS DOUBLE)], m ->
       |    list_transform([(m - 1.0) / (m + 1.0)], t ->
       |      list_transform([t * t], s ->
       |        list_transform([$horner], h ->
       |          CAST(($lLadder) AS DOUBLE) * 0.6931471805599453
       |            + (t + (t * s) * h) * 2.0
       |        )[1])[1])[1])[1])[1]""".stripMargin
  }

  /** Replay of [[graft.functions.QSketchImpl.bucket]]: comparison
    * ladders for ⌊log₂⌋ and its power, integer division for the two
    * refinement bits. `e` must be a simple non-negative BIGINT
    * expression (it is repeated). */
  def qBucket(e: String): String = {
    val lLadder = (62 to 1 by -1)
      .map(k => s"WHEN $e >= ${BigInt(1) << k} THEN $k")
      .mkString("CASE ", " ", " ELSE 0 END")
    val pLadder = (62 to 1 by -1)
      .map(k => s"WHEN $e >= ${BigInt(1) << k} THEN ${BigInt(1) << k}")
      .mkString("CASE ", " ", " ELSE 1 END")
    s"""CASE WHEN $e < 4 THEN $e
       |  ELSE ($lLadder) * 4
       |    + ($e // (($pLadder) // 4)) % 4 END""".stripMargin
  }

  /** Replay of [[graft.functions.QSketchImpl.lower]]. `b` must be a
    * simple BIGINT expression. */
  def qLower(b: String): String =
    s"""CASE WHEN $b < 4 THEN $b
       |  ELSE (4 + $b % 4)
       |    * (CAST(1 AS BIGINT) << CAST($b // 4 - 2 AS INT)) END"""
      .stripMargin

  /** The gaps-and-islands session starts of
    * [[graft.ops.Sessionize.gapsAndIslands]] at its 30-minute gap:
    * `l` carries each event's previous timestamp per user, `f` flags
    * `new_sess`. `cols` lists extra `events` columns both carry
    * (", event_type").
    */
  def sessionStarts(cols: String = ""): String =
    s"""l AS (SELECT user_id, ts, event_id$cols,
       |  lag(epoch_us(ts)) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id) AS prev_us FROM events),
       |f AS (SELECT user_id, ts, event_id$cols,
       |  CASE WHEN prev_us IS NULL
       |        OR epoch_us(ts) - prev_us >= 1800000000 THEN 1
       |  ELSE 0 END AS new_sess FROM l)""".stripMargin
}
