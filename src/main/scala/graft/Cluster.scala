package graft

/** Multi-process execution support: `GRAFT_MASTER=local-cluster[2,8,4096]`
  * turns every main in this repo (each builds its session through
  * [[Session]]) into a REAL multi-executor run — a standalone master +
  * workers in the driver JVM, executors as SEPARATE FORKED JVMs, shuffle
  * and broadcast over the block-transfer service instead of in-process
  * references. This is the execution model the reference ships as its
  * headline (1 coordinator + N worker containers — reference
  * `coordinator/coordinator.py:92-101`, `docker-compose.yml`), and the
  * mode every scale claim in this repo is ultimately about: closure
  * serialization, cross-process shuffle, and durable-index reuse are
  * all unobservable under plain `local[N]`.
  *
  * Requirements wired here rather than documented-and-forgotten:
  *  - executor JVMs get the driver's classpath (this repo's classes are
  *    not in SPARK_HOME/jars, and local-cluster executors build their
  *    classpath from SPARK_HOME + `spark.executor.extraClassPath`);
  *  - executor JVMs get the same JDK17 `--add-opens` set the driver
  *    needs (build.sbt injects them for the driver; forked executors
  *    need their own copy);
  *  - `SPARK_HOME` must point at a Spark distribution (the standalone
  *    Worker refuses to fork executors without it) — run.sh exports it,
  *    and we fail fast with an actionable message otherwise.
  */
object Cluster {
  val MasterEnv = "GRAFT_MASTER"

  /** JDK17 --add-opens for forked executor JVMs (the driver gets its
    * copy from build.sbt / run.sh; executors need their own). */
  val execOpts: String = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  def isCluster(master: String): Boolean = master.startsWith("local-cluster")

  /** The master every main runs on: GRAFT_MASTER, else `local[cpus]`. */
  def master(cpus: Int): String = sys.env.getOrElse(MasterEnv, s"local[$cpus]")

  /** The executor-side wiring a multi-process `master` needs (none for
    * plain `local[N]`). */
  def executorConf(master: String): Seq[(String, String)] =
    if (!isCluster(master)) Nil
    else {
      require(sys.env.contains("SPARK_HOME"),
        s"master $master needs SPARK_HOME (e.g. /opt/spark) so the " +
          "standalone worker can fork executor JVMs")
      Seq(
        "spark.executor.extraClassPath" -> System.getProperty("java.class.path"),
        "spark.executor.extraJavaOptions" -> execOpts,
        // executor loss must surface as retried tasks, not a dead app:
        // the resilience checks kill executors on purpose
        "spark.task.maxFailures" -> "8",
        "spark.stage.maxConsecutiveAttempts" -> "8")
    }
}
