"""Physical-plan strategies (SURVEY.md §4): skew salting and
bucketed layouts."""

from importlib import import_module

for _m in ("skew", "bucketing"):
    import_module(f"{__name__}.{_m}")
