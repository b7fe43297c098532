"""The reference's ``graphload run`` role (SURVEY §2.10, §3.1): wire-stream
ingest into per-entity JSONL bundles + ``poi2$`` (:mod:`.ingest`) and the
CLI's progress heartbeat (:mod:`.stats`).  ``tocsv`` is a batch replay, as
in the reference.
"""
