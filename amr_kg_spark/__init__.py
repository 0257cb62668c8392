"""amr_kg_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch rebuild of the *capabilities* of Fraunhofer-ITMP/AMR-KG
(reference, read-only at /root/reference) as an idiomatic Spark
DataFrame/Catalyst pipeline:

- conversation reconstruction over an Iceberg-style ``transcripts`` table
  (conv_id, turn_idx, role, text, tool, ts) with window-ordered turn grouping
- Catalyst (``regexp_extract_all``) dictionary/pattern mention detection for the
  reference's entity classes (pathogens+strains, compounds/drugs,
  MIC/pChEMBL activity values, institutions)
- entity linking via one literal alias map with the reference's priority
  fallback chain (ChEMBL > PubChem > SPARK > DrugCentral,
  reference src/relations.py:146-155,198-204) plus MinHash-LSH blocking
- canonicalization via connected components over a similarity self-join
- node/edge/triple materialization incl. the undirected triple export
  (reference src/amr.py:337-349)
- checkpoint-resumable stage runner with per-partition lineage + metrics

All operators are Spark DataFrame ops; Python appears only as Arrow-batched
pandas UDFs where the work needs Python (BPE, NFC, media), never on the KG
path and never per row.
"""

__version__ = "0.1.0"
