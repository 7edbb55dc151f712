package graft.dag

/** Minimal DAG model + the `graft_dreem` definition.
  *
  * The reference's entry point is a 7-task Airflow DAG
  * (dags/dreem.py:297-307) whose integrity is pinned by a DagBag test
  * (tests/dags/test_dreem_dag.py:1-7 — loads, 7 tasks, no cycles). This
  * module is the counterpart with the roles split for a Spark engine:
  *
  *  - [[DreemDag.tasks]] is the canonical task chain. Each task maps to an
  *    `EtlJob --stage <id>` spark-submit; state flows between tasks through
  *    the graft Ledger as the reference's flowed through MongoDB.
  *  - [[DreemDag.render]] generates the deployable Airflow artifact
  *    (dags/graft_dreem.py). The checked-in file IS this string — DagSpec
  *    pins them byte-for-byte, so the Python file cannot drift from the
  *    Scala definition (regenerate with `runMain graft.dag.DreemDag`).
  *  - [[Dag.topoSort]] + DagSpec replay the DagBag integrity checks
  *    offline (unique ids, known upstreams, acyclic, task count, every
  *    task id a valid EtlJob stage).
  */
final case class Task(
    id: String,
    upstream: Seq[String] = Nil,
    // Airflow trigger rule; "all_done" = the reference's always-run
    // finalizer semantics (dags/dreem.py:293-295)
    triggerRule: String = "all_success",
    // extra EtlJob args beyond the common set, e.g. the per-run transfer
    // cap on extract (reference slices to 1 group/run, dags/dreem.py:283-287)
    extraArgs: Seq[String] = Nil,
    // environment for the spark-submit process — the secrets channel:
    // application_args land on the driver command line (ps, Spark UI
    // sun.java.command, event logs, YARN/K8s app specs — none redacted),
    // env vars don't. EtlJob reads GRAFT_*_PASS from the environment.
    envVars: Seq[(String, String)] = Nil)

object Dag {

  /** Kahn topological sort. Fails fast (IllegalArgumentException) on the
    * DagBag error classes: duplicate task ids, an upstream referencing an
    * unknown task, or a cycle.
    */
  def topoSort(tasks: Seq[Task]): Seq[Task] = {
    val byId = tasks.map(t => t.id -> t).toMap
    require(byId.size == tasks.size,
      s"duplicate task ids: ${tasks.groupBy(_.id).collect { case (id, ts) if ts.size > 1 => id }.mkString(", ")}")
    tasks.flatMap(_.upstream).foreach(u =>
      require(byId.contains(u), s"upstream '$u' is not a task id"))
    val indegree = scala.collection.mutable.Map.from(
      tasks.map(t => t.id -> t.upstream.size))
    val downstream = tasks.flatMap(t => t.upstream.map(_ -> t.id))
      .groupMap(_._1)(_._2)
    // queue keeps definition order among ready tasks → deterministic output
    val out = scala.collection.mutable.ArrayBuffer.empty[Task]
    val ready = scala.collection.mutable.Queue.from(
      tasks.filter(t => indegree(t.id) == 0).map(_.id))
    while (ready.nonEmpty) {
      val id = ready.dequeue()
      out += byId(id)
      downstream.getOrElse(id, Nil).foreach { d =>
        indegree(d) -= 1
        if (indegree(d) == 0) ready += d
      }
    }
    require(out.size == tasks.size,
      s"cycle among tasks: ${tasks.map(_.id).diff(out.map(_.id).toSeq).mkString(", ")}")
    out.toSeq
  }
}

object DreemDag {

  val dagId = "graft_dreem"

  /** The reference chain, task for task (dags/dreem.py:297-307): a linear
    * download → resolve×3 → group → extract → cleanup dependency spine.
    * The reference's per-task record limits (limit=15 on the resolves) are
    * deliberately NOT carried over: they exist because its tasks loop over
    * documents one HTTP/Mongo round-trip at a time, while these stages are
    * set-oriented Spark jobs — the only cap that survives is the transfer
    * batch (extract's --upload-limit), which bounds real network I/O.
    */
  val tasks: Seq[Task] = Seq(
    Task("download_metadata"),
    Task("resolve_device_serials", upstream = Seq("download_metadata")),
    Task("resolve_device_ids", upstream = Seq("resolve_device_serials")),
    Task("resolve_patient_ids", upstream = Seq("resolve_device_ids")),
    Task("group_records", upstream = Seq("resolve_patient_ids")),
    Task("extract_prep_load", upstream = Seq("group_records"),
      // the transfer cap (reference slices to 1 group/run) plus the LIVE
      // transfer endpoints — without these the stage throws before any
      // work, naming the missing flags. Endpoints/logins come from
      // Airflow's connection store; the PASSWORDS go through envVars (never
      // application args — those leak via ps / Spark UI / event logs)
      extraArgs = Seq(
        "--upload-limit", "1",
        "--drm-base", "{{ conn.graft_drm.host }}",
        "--drm-jwt-url", "{{ conn.graft_drm.extra_dejson.jwt_url }}",
        "--drm-user", "{{ conn.graft_drm.login }}",
        "--dmp-url", "{{ conn.graft_dmp.host }}",
        "--dmp-jwt-url", "{{ conn.graft_dmp.extra_dejson.jwt_url }}",
        "--dmp-user", "{{ conn.graft_dmp.login }}",
        "--dmp-dataset", "{{ var.value.graft_dmp_dataset }}"),
      envVars = Seq(
        "GRAFT_DRM_PASS" -> "{{ conn.graft_drm.password }}",
        "GRAFT_DMP_PASS" -> "{{ conn.graft_dmp.password }}")),
    Task("cleanup", upstream = Seq("extract_prep_load"),
      triggerRule = "all_done"))

  /** The Airflow artifact: one SparkSubmitOperator per task over
    * `graft.EtlJob --stage`. Deploy-site values (jar path, data locations,
    * connection endpoints) come from Airflow Variables so the generated
    * file is environment-free.
    */
  def render: String = {
    val ordered = Dag.topoSort(tasks)
    val ops = ordered.map { t =>
      val extra = t.extraArgs.map(a => s""", "$a"""").mkString
      val trigger =
        if (t.triggerRule == "all_done")
          "\n        trigger_rule=TriggerRule.ALL_DONE,"
        else ""
      val env =
        if (t.envVars.isEmpty) ""
        else t.envVars
          .map { case (k, v) => s"""            "$k": "$v",""" }
          .mkString(
            "\n        # secrets: env, NOT application_args (ps / Spark UI" +
              " / event logs)\n        env_vars={\n", "\n", "\n        },")
      s"""    ${t.id} = SparkSubmitOperator(
         |        task_id="${t.id}",
         |        application=GRAFT_JAR,
         |        java_class="graft.EtlJob",
         |        conn_id="spark_default",
         |        application_args=COMMON_ARGS + ["--stage", "${t.id}"$extra],$env$trigger
         |    )""".stripMargin
    }.mkString("\n\n")
    val chain = ordered.map(_.id).mkString("\n        >> ")
    s"""\"\"\"$dagId — the reference's 7-task dreem DAG (dags/dreem.py:297-307)
       |re-expressed as one spark-submit per task over ``graft.EtlJob --stage``.
       |
       |State flows between tasks through the graft Ledger (as the
       |reference's flowed through MongoDB), so every task is an independent
       |Spark job and the scheduler owns retries/alerting per task.
       |
       |GENERATED from graft.dag.DreemDag.render — edit there, not here
       |(DagSpec pins this file to the generator; regenerate with
       |``sbt "runMain graft.dag.DreemDag"``).
       |\"\"\"
       |from datetime import datetime
       |
       |from airflow import DAG
       |from airflow.providers.apache.spark.operators.spark_submit import (
       |    SparkSubmitOperator,
       |)
       |from airflow.utils.trigger_rule import TriggerRule
       |
       |GRAFT_JAR = "{{ var.value.graft_jar }}"
       |
       |# Per-deployment data locations; the per-run scratch dir is keyed by
       |# run_id so concurrent DAG runs never share download folders (the
       |# reference's dag_run_download_folder, dags/dreem.py:254-258).
       |COMMON_ARGS = [
       |    "--ledger", "{{ var.value.graft_ledger }}",
       |    "--incoming", "{{ var.value.graft_incoming }}",
       |    "--uid-serial", "{{ var.value.graft_uid_serial }}",
       |    "--serial-id", "{{ var.value.graft_serial_id }}",
       |    "--assignments", "{{ var.value.graft_assignments }}",
       |    "--workdir", "{{ var.value.graft_workdir }}/{{ run_id }}",
       |    "--today", "{{ ds }}",
       |]
       |
       |with DAG(
       |    dag_id="$dagId",
       |    description="Ideafast-style wearables ETL on the graft Spark engine",
       |    start_date=datetime(2021, 11, 1),
       |    schedule="@daily",
       |    catchup=False,
       |    max_active_runs=1,  # the Ledger is single-writer by design
       |) as dag:
       |$ops
       |
       |    (
       |        $chain
       |    )
       |""".stripMargin
  }

  /** Regenerate dags/graft_dreem.py (paths relative to the repo root). */
  def main(args: Array[String]): Unit = {
    val target = java.nio.file.Paths.get(
      if (args.nonEmpty) args(0) else "dags/graft_dreem.py")
    Option(target.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(target,
      render.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"wrote $target")
  }
}
