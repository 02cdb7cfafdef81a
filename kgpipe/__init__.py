"""kgpipe — a from-scratch PySpark-native knowledge-graph construction pipeline.

Recasts the query/data-processing capabilities of the reference system
(etgld/crc-ner, a cTAKES/UIMA clinical-NLP triple factory) as an idiomatic
Spark DataFrame pipeline over multi-turn conversation transcripts:

    transcripts(conv_id, turn_idx, role, text, tool, ts)
        -> tokens / mentions / timexes        (annotation DataFrames)
        -> windowed (mention, timex) pairs    (band join, +-60 tokens)
        -> scored (subj, pred, obj) triples   (deterministic scorers)
        -> canonical nodes / edges / lineage  (MinHash-LSH + conn. components)

Two execution paths share the same per-turn primitives and are
equality-tested against each other and a doc-at-a-time oracle:

* ``pipeline.build_triples(..., fused=False)`` — structured: every operator
  from SURVEY.md §2 is a visible DataFrame op (filters, broadcast anti-joins,
  row_number windows, band join), all shuffles keyed on (conv_id, turn_idx)
  so Catalyst reuses a single exchange.
* ``pipeline.build_triples(..., fused=True)`` — fused: one zero-shuffle
  ``mapInArrow`` pass (scan -> triples), the 100-TB scale path; a batch-level
  RE2 screen sends only the turns that can hold a mention through Python.
"""

__version__ = "0.1.0"
