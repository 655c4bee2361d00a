package graft

import java.util.concurrent.{FutureTask, TimeUnit, TimeoutException}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How the registry mains pick and run queries: one `GRAFT_ONLY`
  * selector, one per-query watchdog (`GRAFT_QUERY_TIMEOUT` seconds) and
  * one result sink. */
object QueryRunner {
  val OnlyEnv = "GRAFT_ONLY"
  val TimeoutEnv = "GRAFT_QUERY_TIMEOUT"

  /** The entries of `all` named by `only` (`a,b,c`), or Left(the names
    * `all` lacks). Unset or blank means every entry. */
  def only[V](all: Map[String, V], only: Option[String]): Either[Seq[String], Map[String, V]] = {
    val names = only.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(all.contains).distinct
    if (unknown.nonEmpty) Left(unknown)
    else if (names.isEmpty) Right(all)
    else Right(all.filter { case (n, _) => names.contains(n) })
  }

  /** [[only]] over `GRAFT_ONLY`; a name not in `all` ends the JVM with
    * status 2 — a typo must not pass as a green run over nothing. */
  def selected[V](all: Map[String, V]): Map[String, V] =
    only(all, sys.env.get(OnlyEnv)) match {
      case Right(picked) => picked
      case Left(unknown) =>
        System.err.println(s"$OnlyEnv names not in the registry: ${unknown.mkString(",")}")
        sys.exit(2)
    }

  /** `value` as watchdog seconds: `default` when unset or blank,
    * Left(value) when it is not a positive whole number. */
  def timeout(value: Option[String], default: Long): Either[String, Long] =
    value.map(_.trim).filter(_.nonEmpty) match {
      case None => Right(default)
      case Some(v) => v.toLongOption.filter(_ > 0).toRight(v)
    }

  /** [[timeout]] over `GRAFT_QUERY_TIMEOUT` with the caller's default; a
    * bad value ends the JVM with status 2, naming the variable, as
    * [[selected]] does. */
  def timeoutSec(default: Long): Long =
    timeout(sys.env.get(TimeoutEnv), default) match {
      case Right(sec) => sec
      case Left(v) =>
        System.err.println(s"$TimeoutEnv is not a positive whole number of seconds: $v")
        sys.exit(2)
    }

  /** Run `body` on a worker thread under job group `group`. Past
    * `timeoutSec` the group is cancelled (interrupting its tasks) and
    * the result is Left(TimeoutException); a failure is Left(its cause).
    * Either way the session's cache is cleared afterwards, so a query
    * that persists intermediates cannot bleed memory into the next. */
  def run[T](spark: SparkSession, group: String, timeoutSec: Long)(body: => T)
      : Either[Throwable, T] = {
    val sc = spark.sparkContext
    val task = new FutureTask[T](() => {
      sc.setJobGroup(group, group, interruptOnCancel = true)
      try body finally sc.clearJobGroup()
    })
    val th = new Thread(task, s"query-$group")
    th.setDaemon(true)
    th.start()
    try Right(task.get(timeoutSec, TimeUnit.SECONDS))
    catch {
      case e: TimeoutException =>
        sc.cancelJobGroup(group)
        Left(e)
      case e: Throwable => Left(if (e.getCause != null) e.getCause else e)
    } finally spark.catalog.clearCache()
  }

  /** Materialise the whole result of `df`, every column and the final
    * order, into the `noop` sink: the plan Verify checks. A `count()`
    * lets Catalyst prune columns, sorts, joins and whole scans. */
  def result(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
