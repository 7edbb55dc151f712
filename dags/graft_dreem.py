"""graft_dreem — the reference's 7-task dreem DAG (dags/dreem.py:297-307)
re-expressed as one spark-submit per task over ``graft.EtlJob --stage``.

State flows between tasks through the graft Ledger (as the
reference's flowed through MongoDB), so every task is an independent
Spark job and the scheduler owns retries/alerting per task.

GENERATED from graft.dag.DreemDag.render — edit there, not here
(DagSpec pins this file to the generator; regenerate with
``sbt "runMain graft.dag.DreemDag"``).
"""
from datetime import datetime

from airflow import DAG
from airflow.providers.apache.spark.operators.spark_submit import (
    SparkSubmitOperator,
)
from airflow.utils.trigger_rule import TriggerRule

GRAFT_JAR = "{{ var.value.graft_jar }}"

# Per-deployment data locations; the per-run scratch dir is keyed by
# run_id so concurrent DAG runs never share download folders (the
# reference's dag_run_download_folder, dags/dreem.py:254-258).
COMMON_ARGS = [
    "--ledger", "{{ var.value.graft_ledger }}",
    "--incoming", "{{ var.value.graft_incoming }}",
    "--uid-serial", "{{ var.value.graft_uid_serial }}",
    "--serial-id", "{{ var.value.graft_serial_id }}",
    "--assignments", "{{ var.value.graft_assignments }}",
    "--workdir", "{{ var.value.graft_workdir }}/{{ run_id }}",
    "--today", "{{ ds }}",
]

with DAG(
    dag_id="graft_dreem",
    description="Ideafast-style wearables ETL on the graft Spark engine",
    start_date=datetime(2021, 11, 1),
    schedule="@daily",
    catchup=False,
    max_active_runs=1,  # the Ledger is single-writer by design
) as dag:
    download_metadata = SparkSubmitOperator(
        task_id="download_metadata",
        application=GRAFT_JAR,
        java_class="graft.EtlJob",
        conn_id="spark_default",
        application_args=COMMON_ARGS + ["--stage", "download_metadata"],
    )

    resolve_device_serials = SparkSubmitOperator(
        task_id="resolve_device_serials",
        application=GRAFT_JAR,
        java_class="graft.EtlJob",
        conn_id="spark_default",
        application_args=COMMON_ARGS + ["--stage", "resolve_device_serials"],
    )

    resolve_device_ids = SparkSubmitOperator(
        task_id="resolve_device_ids",
        application=GRAFT_JAR,
        java_class="graft.EtlJob",
        conn_id="spark_default",
        application_args=COMMON_ARGS + ["--stage", "resolve_device_ids"],
    )

    resolve_patient_ids = SparkSubmitOperator(
        task_id="resolve_patient_ids",
        application=GRAFT_JAR,
        java_class="graft.EtlJob",
        conn_id="spark_default",
        application_args=COMMON_ARGS + ["--stage", "resolve_patient_ids"],
    )

    group_records = SparkSubmitOperator(
        task_id="group_records",
        application=GRAFT_JAR,
        java_class="graft.EtlJob",
        conn_id="spark_default",
        application_args=COMMON_ARGS + ["--stage", "group_records"],
    )

    extract_prep_load = SparkSubmitOperator(
        task_id="extract_prep_load",
        application=GRAFT_JAR,
        java_class="graft.EtlJob",
        conn_id="spark_default",
        application_args=COMMON_ARGS + ["--stage", "extract_prep_load", "--upload-limit", "1", "--drm-base", "{{ conn.graft_drm.host }}", "--drm-jwt-url", "{{ conn.graft_drm.extra_dejson.jwt_url }}", "--drm-user", "{{ conn.graft_drm.login }}", "--dmp-url", "{{ conn.graft_dmp.host }}", "--dmp-jwt-url", "{{ conn.graft_dmp.extra_dejson.jwt_url }}", "--dmp-user", "{{ conn.graft_dmp.login }}", "--dmp-dataset", "{{ var.value.graft_dmp_dataset }}"],
        # secrets: env, NOT application_args (ps / Spark UI / event logs)
        env_vars={
            "GRAFT_DRM_PASS": "{{ conn.graft_drm.password }}",
            "GRAFT_DMP_PASS": "{{ conn.graft_dmp.password }}",
        },
    )

    cleanup = SparkSubmitOperator(
        task_id="cleanup",
        application=GRAFT_JAR,
        java_class="graft.EtlJob",
        conn_id="spark_default",
        application_args=COMMON_ARGS + ["--stage", "cleanup"],
        trigger_rule=TriggerRule.ALL_DONE,
    )

    (
        download_metadata
        >> resolve_device_serials
        >> resolve_device_ids
        >> resolve_patient_ids
        >> group_records
        >> extract_prep_load
        >> cleanup
    )
