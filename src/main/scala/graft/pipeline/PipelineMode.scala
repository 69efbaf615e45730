package graft.pipeline

/** The three pipeline modes (reference: helpers/pipeline_mode.py:4-10,
  * main.py:17-24). Sealed ADT — invalid modes are unrepresentable, unlike
  * the reference's runtime enum check (lib/pipeline_controller.py:91-93).
  */
sealed trait PipelineMode

object PipelineMode {
  case object NewPatrons extends PipelineMode
  case object UpdatedPatrons extends PipelineMode
  case object DeletedPatrons extends PipelineMode
}
