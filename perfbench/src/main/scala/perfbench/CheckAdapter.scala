package perfbench

import graft.operators.AccessService
import graft.sources.{CircuitStore, GrantStore}
import org.apache.spark.sql.SparkSession

/** The serve tier as the benchmark drives it: one `AccessService` over
  * `GrantStore.read` / `CircuitStore.read`, answering
  * `canAccessFlag(user, "canpurchase")` once per check. The service is
  * rebuilt by the first check that finds a newer publish than the one
  * it was built after (`publishes` counts completed publishes), so no
  * answer is older than the last publish completed before its check
  * started; checks that arrive meanwhile wait for the rebuild. A check
  * that throws is not retried: the caller counts it as failed. */
final class CheckAdapter(spark: SparkSession, grants: String, circuits: String,
                         publishes: () => Long, tracer: Tracer) {
  private var svc: AccessService = _
  private var builtAt = -1L

  /** (answer, ns spent building the service, ns spent in the call). */
  def check(user: Long, req: String): (Boolean, Long, Long) = {
    val t0 = System.nanoTime()
    val s = synchronized {
      val p = publishes()
      if (svc == null || builtAt != p) {
        svc = tracer.span("build", "access", req) {
          new AccessService(spark, GrantStore.read(spark, grants), CircuitStore.read(spark, circuits))
        }
        builtAt = p
      }
      svc
    }
    val t1 = System.nanoTime()
    val ans = tracer.span("call", "access", req)(s.canAccessFlag(user, "canpurchase").get)
    (ans, t1 - t0, System.nanoTime() - t1)
  }
}
