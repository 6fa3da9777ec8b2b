"""Drop-in reference workflow: the reference's ``main(String[] args)``
contract (ProcessData.java:624-679) re-expressed on Spark.

Reference invocation:  hadoop jar ... ProcessData <input_docs_dir> <output_dir>
                       <stopwords_file> <centers_file>
Engine invocation:     python -m hadoop_web_browsing_logs_spark refjob
                       <input_docs_dir> <output_dir> <stopwords_file> <centers_file>

Outputs (reference text formats):

- ``<output_dir>/inverted_index/``  — Job 1 parity: ``term\\t[1,0,1,]`` lines,
  term-sorted, trailing-comma vectors (ProcessData.java:462-469, SURVEY Q2/Q8)
- ``<output_dir>/kmeans/``          — Job 2 parity: ``<cluster#>\\t<members>``
  lines (space-separated terms, sorted — deterministic where the reference
  depended on shuffle order). Written beside, not inside, Job 1's output
  (the reference nested it into its own input dir — SURVEY Q7).

Side files match the reference's DistributedCache inputs: stopwords = one
word per line (ProcessData.java:423-435); centers = one incidence-vector
string per line in the same ``[v1,v2,...,]`` format (ProcessData.java:579-590):
0/1 values, one per document.

``refjob`` runs the same kernel as ``q_ref_pipeline``: ``text.inverted_index``
builds the index and ``text.cluster_terms`` assigns and numbers the clusters;
this module only parses the side files and writes the two text outputs.

The reference's bugs are not reproduced (SURVEY Appendix A): cosine is real
cosine (not XOR-power, B1), argmin is a real argmin (B2), no key-rewriting
combiner (B3), cluster numbering is global and deterministic (B4), and any
dimensionality/digit width parses (Q5: the reference handled exactly 3
single-digit dims).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _read_centers(path: str, n_docs: int) -> list[list[int]]:
    """Parse the reference's vector serialization ``[1,0,1,]`` (trailing comma
    tolerated, like TokenizerMapper2's parser — ProcessData.java:545-557) into
    the 1-based positions of each center's 1s. A line that is not a 0/1
    vector of length ``n_docs`` with a 1 has no well-defined cosine: raise
    ``ValueError`` naming it."""
    centers = []
    with open(path) as fh:
        for lineno, line in enumerate(fh, 1):
            if not line.strip():
                continue
            body = line.strip().lstrip("[").rstrip("]")
            vec = [x.strip() for x in body.split(",") if x.strip()]
            if len(vec) != n_docs:
                why = f"has {len(vec)} values, expected one per document ({n_docs})"
            elif any(v not in ("0", "1") for v in vec):
                why = "holds a value other than 0 or 1"
            elif "1" not in vec:
                why = "has no 1"
            else:
                centers.append([i for i, v in enumerate(vec, 1) if v == "1"])
                continue
            raise ValueError(f"{path}:{lineno}: center {why}")
    if not centers:
        raise ValueError(f"{path}: no centers")
    return centers


def run_reference_jobs(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    stopwords_file: str,
    centers_file: str,
) -> DataFrame:
    """Execute Job 1 + Job 2; write both reference-format outputs; return the
    clusters ``(cluster_id, center_id, n_members, members)``."""
    from .operators.text import cluster_terms, densify_incidence, inverted_index
    from .sources.readers import corpus_doc_count, local_frame, read_corpus_dir
    from .sources.writers import write_reference_text

    with open(stopwords_file) as fh:
        stopwords = tuple(w.strip().lower() for w in fh if w.strip())

    corpus = read_corpus_dir(spark, input_dir)
    # A3: the vector length is the file count, as in the reference's
    # getFileCount; it comes from the scan's listing, with no job
    n_docs = corpus_doc_count(corpus)
    centers = _read_centers(centers_file, n_docs)

    # two consumers (the Job-1 export and the assignment): build it once
    index = inverted_index(spark, corpus, stem=True, stopwords=stopwords).cache()
    dense = densify_incidence(index, n_docs=n_docs, one_based=True)
    write_reference_text(dense, f"{output_dir}/inverted_index", term_col="term", vec_col="vec")

    centers_df = local_frame(spark, list(enumerate(centers, 1)), "center_id INT, postings ARRAY<INT>")
    clusters = cluster_terms(index, centers_df)
    kmeans = clusters.sort("cluster_id").select(F.concat_ws("\t", F.col("cluster_id").cast("string"), "members"))
    kmeans.write.mode("overwrite").text(f"{output_dir}/kmeans")
    return clusters
