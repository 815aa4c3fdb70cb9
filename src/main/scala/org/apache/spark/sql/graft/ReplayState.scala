/* Lives under org.apache.spark.sql to reach the state-store registry,
 * which is private[sql]. */
package org.apache.spark.sql.graft

import java.util.UUID
import scala.collection.mutable
import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreProvider, StateStoreProviderId}

/** Closes the state-store providers one streaming run loaded.
  *
  * A stopped query's providers stay in the JVM's `StateStore` registry
  * until a maintenance pass finds them inactive (every
  * `stateStore.maintenanceInterval`, 600 s for the replays) or the store
  * is stopped. Each provider owns a `ChecksumCheckpointFileManager`
  * thread pool, so back-to-back replays piled those threads up: one bench
  * pass held 1,248 of them. [[unload]] closes the run's providers as soon
  * as it stops. It acts on this JVM's registry only, which holds every
  * provider in local mode; on a cluster the executors' maintenance passes
  * still unload theirs. */
object ReplayState {

  // the registry map itself is private to StateStore; its keys carry the
  // query run id this filter needs
  private lazy val loaded: mutable.HashMap[StateStoreProviderId, StateStoreProvider] = {
    val f = StateStore.getClass.getDeclaredField("loadedProviders")
    f.setAccessible(true)
    f.get(StateStore).asInstanceOf[mutable.HashMap[StateStoreProviderId, StateStoreProvider]]
  }

  /** Remove and close every loaded provider of the query run `runId`. */
  def unload(runId: UUID): Unit = {
    val ids = loaded.synchronized(loaded.keys.filter(_.queryRunId == runId).toList)
    ids.foreach(StateStore.removeFromLoadedProvidersAndClose(_))
  }
}
