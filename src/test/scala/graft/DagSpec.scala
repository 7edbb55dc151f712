package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.dag.{Dag, DreemDag, Task}

/** The DagBag-integrity role of the reference's
  * tests/dags/test_dreem_dag.py:1-7 + conftest.py:10-22, replayed offline:
  * the DAG definition loads, has exactly 7 tasks, no cycles, no duplicate
  * or dangling ids — plus the graft-specific invariants (every task is a
  * real EtlJob stage; the checked-in Airflow artifact matches the
  * generator byte-for-byte).
  */
class DagSpec extends AnyFunSuite {

  test("graft_dreem has the reference's 7 tasks in chain order") {
    assert(DreemDag.tasks.size == 7)
    assert(Dag.topoSort(DreemDag.tasks).map(_.id) == Seq(
      "download_metadata", "resolve_device_serials", "resolve_device_ids",
      "resolve_patient_ids", "group_records", "extract_prep_load", "cleanup"))
  }

  test("every task id is an EtlJob stage, 1:1 and in the same order") {
    assert(DreemDag.tasks.map(_.id) == EtlJob.stageNames)
  }

  test("cleanup is the always-run finalizer (ALL_DONE trigger rule)") {
    val byId = DreemDag.tasks.map(t => t.id -> t).toMap
    assert(byId("cleanup").triggerRule == "all_done")
    assert(DreemDag.tasks.filterNot(_.id == "cleanup")
      .forall(_.triggerRule == "all_success"))
  }

  test("extract carries the transfer cap AND a live transfer mode") {
    val extract = DreemDag.tasks.find(_.id == "extract_prep_load").get
    assert(extract.extraArgs.containsSlice(Seq("--upload-limit", "1")))
    // EtlJob's extract stage fails fast without its endpoints, so the DAG
    // must wire them
    assert(extract.extraArgs.contains("--drm-base"))
    assert(extract.extraArgs.contains("--dmp-url"))
    assert(extract.extraArgs.contains("--dmp-dataset"))
    // credentials come from Airflow's connection store and ride env_vars —
    // NEVER application args (which leak via ps on the submit host, the
    // Spark UI Environment tab, event logs, and YARN/K8s app specs)
    assert(!extract.extraArgs.exists(_.contains("password")),
      "passwords must not appear in application args")
    val envKeys = extract.envVars.map(_._1).toSet
    assert(envKeys == Set("GRAFT_DRM_PASS", "GRAFT_DMP_PASS"))
    assert(extract.envVars.forall(_._2.startsWith("{{ conn.")))
  }

  test("topoSort rejects cycles, duplicate ids, and dangling upstreams") {
    intercept[IllegalArgumentException] {
      Dag.topoSort(Seq(Task("a", upstream = Seq("b")),
        Task("b", upstream = Seq("a"))))
    }
    intercept[IllegalArgumentException] {
      Dag.topoSort(Seq(Task("a"), Task("a")))
    }
    intercept[IllegalArgumentException] {
      Dag.topoSort(Seq(Task("a", upstream = Seq("ghost"))))
    }
  }

  test("topoSort orders a branching graph by dependencies, ties by definition") {
    val sorted = Dag.topoSort(Seq(
      Task("sink", upstream = Seq("left", "right")),
      Task("left", upstream = Seq("root")),
      Task("right", upstream = Seq("root")),
      Task("root")))
    assert(sorted.map(_.id) == Seq("root", "left", "right", "sink"))
  }

  test("dags/graft_dreem.py is exactly DreemDag.render (no drift)") {
    val artifact = java.nio.file.Paths.get("dags/graft_dreem.py")
    assert(java.nio.file.Files.exists(artifact),
      "dags/graft_dreem.py missing — regenerate with `sbt \"runMain graft.dag.DreemDag\"`")
    val onDisk = new String(java.nio.file.Files.readAllBytes(artifact),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(onDisk == DreemDag.render,
      "dags/graft_dreem.py drifted from graft.dag.DreemDag — regenerate with `sbt \"runMain graft.dag.DreemDag\"`")
  }

  test("graft_dummy mirrors the reference umbrella graph and round-trips") {
    import graft.dag.DummyDag
    // task-for-task the reference scaffold (dags/dummy_dag.py:15-26),
    // including the branch/merge the linear dreem chain never exercises
    assert(DummyDag.tasks.size == 7)
    assert(Dag.topoSort(DummyDag.tasks).map(_.id) == Seq(
      "fetch_weather_forecast", "fetch_sales_data", "clean_forecast_data",
      "clean_sales_data", "join_datasets", "train_ml_model",
      "deploy_ml_model"))
    assert(DummyDag.tasks.find(_.id == "join_datasets").get.upstream ==
      Seq("clean_forecast_data", "clean_sales_data"))
    val py = DummyDag.render
    DummyDag.tasks.foreach(t =>
      assert(py.contains(s"""task_id="${t.id}""""), s"missing ${t.id}"))
    assert(py.contains(
      "[clean_forecast_data, clean_sales_data] >> join_datasets"))
    // generated-artifact round trip, same pin as graft_dreem
    val artifact = java.nio.file.Paths.get("dags/graft_dummy.py")
    assert(java.nio.file.Files.exists(artifact),
      "dags/graft_dummy.py missing — regenerate with `sbt \"runMain graft.dag.DummyDag\"`")
    val onDisk = new String(java.nio.file.Files.readAllBytes(artifact),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(onDisk == py,
      "dags/graft_dummy.py drifted — regenerate with `sbt \"runMain graft.dag.DummyDag\"`")
  }

  test("rendered DAG wires every task as an EtlJob --stage spark-submit") {
    val py = DreemDag.render
    EtlJob.stageNames.foreach { id =>
      assert(py.contains(s"""task_id="$id""""), s"missing task $id")
      assert(py.contains(s""""--stage", "$id""""), s"task $id not staged")
    }
    assert(py.contains("trigger_rule=TriggerRule.ALL_DONE"))
    assert(py.contains("max_active_runs=1"))
  }
}
