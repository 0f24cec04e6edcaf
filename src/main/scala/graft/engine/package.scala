package graft

package object engine {
  /** The CSR engine's earlier name for [[CheckpointConfig]]. */
  type CsrCheckpoint = CheckpointConfig
  val CsrCheckpoint: CheckpointConfig.type = CheckpointConfig
}
