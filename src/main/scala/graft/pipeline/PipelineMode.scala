package graft.pipeline

/** The three pipeline modes (reference: helpers/pipeline_mode.py:4-10,
  * main.py:17-24). Sealed ADT — invalid modes are unrepresentable, unlike
  * the reference's runtime enum check (lib/pipeline_controller.py:91-93).
  */
sealed trait PipelineMode {
  /** Poller-state key (reference: lib/pipeline_controller.py:454-466). */
  def stateKey: String
}

object PipelineMode {
  case object NewPatrons extends PipelineMode {
    val stateKey = "creation_dt"
  }
  case object UpdatedPatrons extends PipelineMode {
    val stateKey = "update_dt"
  }
  case object DeletedPatrons extends PipelineMode {
    val stateKey = "deletion_date"
  }
}
