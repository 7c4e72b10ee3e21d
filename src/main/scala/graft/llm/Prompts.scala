package graft.llm

/** F5: prompt templates (SURVEY.md §2.8 — reference templates at
  * runners/run_summarization_ollama_mapreduce.py:79-96, ..._iterative.py:106-147,
  * ..._critique.py:118-201, ..._hierarchical.py:83-115). Template text is
  * config data, not engine logic: these are neutral English equivalents
  * with the same slot structure ({content}, {summary}, {original_chunks},
  * {current_summary}, {critique}, {reference_content}); deployments
  * substitute their own (e.g. Vietnamese) wording without code changes.
  */
object Prompts {

  final case class Template(text: String) {
    /** Fill `{slot}` markers. Unfilled markers are left intact (caller
      * error surfaced in output rather than thrown mid-pipeline).
      */
    def fill(slots: (String, String)*): String =
      slots.foldLeft(text) { case (acc, (k, v)) =>
        acc.replace("{" + k + "}", Option(v).getOrElse(""))
      }
  }

  /** Q2 map stage: summarize one chunk. */
  val map: Template = Template(
    "Write a concise summary of the following content.\n\n{content}\n\nSummary:")

  /** Q3 critique stage: judge a summary against its sources. */
  val critique: Template = Template(
    "Review this summary against its source sections. Answer 'no issues' " +
      "if it is faithful and complete, otherwise list the problems.\n\n" +
      "Summary:\n{summary}\n\nSources:\n{original_chunks}")

  /** Q3 refine stage: rewrite with the critique in hand. */
  val refine: Template = Template(
    "Rewrite the summary to address the critique, using the sources.\n\n" +
      "Current summary:\n{current_summary}\n\nCritique:\n{critique}\n\n" +
      "Sources:\n{reference_content}")
}
