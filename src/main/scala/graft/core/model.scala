package graft.core

/** Core row types (SURVEY.md §7.1.1 — compile-time versions of the
  * reference's TypedDict pipeline states).
  */
final case class Doc(doc_id: Long, text: String)

final case class Chunk(doc_id: Long, chunk_idx: Int, text: String, n_tokens: Long)

final case class BinnedChunk(doc_id: Long, bin: Int, chunk_idx: Int, text: String, n_tokens: Long)

final case class Summary(doc_id: Long, summary: String)

/** Flattened document-structure tree node (SURVEY.md §1.1 "Document tree";
  * reference: runners/run_summarization_ollama_mapreduce_hierarchical.py:202-239
  * — recursive {type,text,children} JSON becomes an adjacency list because
  * Spark has no recursive types).
  */
final case class TreeNode(
    doc_id: Long,
    node_id: Long,
    parent_id: Long, // -1 for root
    depth: Int,
    node_type: String, // Document | Header | Paragraph
    text: String,
    ord: Int)

/** Pipeline configuration (mirror of the reference's merged config dict,
  * run_full_evaluation_pipeline.py:974-1027). Defaults are the reference's
  * production values — a user switching from the reference gets its
  * chunking behavior unchanged: chunk_size 12000 / chunk_overlap 200
  * (:999-1003; splitter configs ..._mapreduce.py:213-217), token_max
  * 10000 (ds2 bench config, BASELINE.md), max_new_tokens 2048
  * (runners/run_summarization_ollama.py:8-37 — 16384-token context minus
  * 2048 generation budget). Tests scale these down proportionally
  * (Pipelines.TestCfg) so the synthetic corpus still exercises multi-chunk
  * docs and collapse rounds.
  */
final case class PipelineConfig(
    chunkSize: Int = 12000,
    chunkOverlap: Int = 200,
    tokenMax: Int = 10000,
    maxSummaryTokens: Int = 2048,
    maxCollapseRounds: Int = 10, // reference recursion_limit=10
    maxCritiqueIterations: Int = 2,
    // "recursive" (the reference's splitter semantics, library default),
    // "token_window" (fixed-stride token windows — identical coverage
    // semantics, exactly SQL-expressible, used by the oracled pipelines),
    // or "recursive_bpe" (recursive split measured by an exact BPE
    // tokenizer — the reference's chunk-by-HF-token behavior, F3)
    chunker: String = "recursive",
    // HF tokenizer.json for "recursive_bpe"; empty = the pinned Bpe.demo
    // table (Bpe.fromTokenizerJson loads the real artifact in production)
    tokenizerJsonPath: String = "")
