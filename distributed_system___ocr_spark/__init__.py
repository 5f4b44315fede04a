"""PySpark-native per-document extraction engine.

A from-scratch rebuild of the *capabilities* of the reference
manager/worker OCR pipeline (yarinyc/Distributed-system---OCR,
surveyed in SURVEY.md) as an idiomatic PySpark batch engine:

- elastic parallel per-document extraction  -> vectorized Arrow/pandas
  UDF stage over a salted-repartitioned ``pages`` table
  (reference: Worker.java:79-153, Manager.java:351-369)
- errors-are-rows fault channel             -> status/error columns
  (reference: Worker.java:133-143)
- duplicate accounting + dedup-by-url       -> manifest aggregation
  (reference: Manager.java:216-219)
- completion tracking / resume              -> checkpointed manifests +
  left-anti join (reference: Manager.java:223-234 had none; §4 SURVEY)
- per-task lineage / audit trail            -> lineage metrics table
  (reference: GeneralUtils.java:50-59 debug log)

Everything here is plain public PySpark API (DataFrame / pandas UDFs);
no custom Catalyst rules are needed (SURVEY.md §4).

Importing the package (as every Python worker does when it unpickles
an engine UDF) stops the worker from re-reading unchanged zip archives
on its path before each task (``_zipdirs``).
"""

from ._zipdirs import reuse_unchanged_zip_directories

reuse_unchanged_zip_directories()

__version__ = "0.1.0"
