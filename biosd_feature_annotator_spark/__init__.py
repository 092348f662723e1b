"""biosd_feature_annotator_spark — a from-scratch PySpark-native
knowledge-graph construction engine.

Re-imagines the capabilities of ``EBIBioSamples/biosd_feature_annotator``
(a Java batch annotator that text-mines numbers/dates/ranges and links
free-text property values to ontology terms via ZOOMA — see SURVEY.md §0.4)
as a distributed triple-extraction pipeline over transcript tables:

    transcripts(conv_id, turn_idx, role, text, tool, ts)
        → mention extraction (vectorized pandas/Arrow UDFs)
        → entity linking (broadcast dictionary join, confidence-ranked)
        → canonicalization (connected-components merge, salted aggs)
        → graph materialization (partitioned triples/nodes/edges tables
          + per-partition lineage manifests for resumability)

Architecture is DataFrame/Catalyst-first: every relational step is a
declarative DataFrame op; only the regex/parse text-mining core runs in
Arrow-batched pandas UDFs (never per-row Python). See SURVEY.md §2 for the
operator inventory and README.md for the scale design.
"""

__version__ = "0.1.0"
