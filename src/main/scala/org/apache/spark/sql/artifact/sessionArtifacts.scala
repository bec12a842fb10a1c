package org.apache.spark.sql.artifact

/** Reads the per-session artifact directory that `ArtifactManager` keeps
  * package-private, for [[org.apache.spark.sql.graft.bridge.cloneSession]].
  * Namespaced here by the same necessity as the bridge; no query logic.
  */
private[sql] object sessionArtifacts {
  /** Whether `m`'s session holds session-scoped jars, classes, files or
    * archives. Every one of them is transferred into the session's artifact
    * directory, which exists only once the first one arrives (a clone gets a
    * copy of its parent's).
    */
  def any(m: ArtifactManager): Boolean = java.nio.file.Files.exists(m.artifactPath)
}
