package graft.domain

import org.apache.spark.resource.{ExecutorResourceRequests, ResourceProfile, ResourceProfileBuilder, TaskResourceRequests}

/** M4 heterogeneous-stage scheduling (reference: Dask GPU annotations,
  * prediction_steps.py:319-342 + `resources: GPU=1` worker pools).
  *
  * Spark-native form: stage-level scheduling via `ResourceProfile` — the
  * enumeration stages run on default (CPU) executors; an inference stage's
  * RDD tagged with this profile (`rdd.withResources(gpuProfile())`) is
  * scheduled by dynamic-allocation clusters onto GPU executors. In
  * `local[*]` mode profiles are accepted but
  * no-op (no cluster manager to honor them), so this is exercised as plan
  * metadata in tests and is live on a real cluster unchanged.
  */
object Resources {

  /** 1 GPU per task, `gpusPerExecutor` per executor, like the reference's
    * 1-GPU worker pods (catlas-hybrid-cluster.yml:124).
    */
  def gpuProfile(gpusPerExecutor: Int = 1, memoryGb: Int = 16): ResourceProfile = {
    val ereq = new ExecutorResourceRequests()
      .memory(s"${memoryGb}g")
      .resource("gpu", gpusPerExecutor)
    val treq = new TaskResourceRequests().resource("gpu", 1)
    new ResourceProfileBuilder().require(ereq).require(treq).build()
  }
}
