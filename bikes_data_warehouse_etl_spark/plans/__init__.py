import importlib
import pkgutil

from bikes_data_warehouse_etl_spark.plans.date_dim import build_date_dim
from bikes_data_warehouse_etl_spark.plans.synthetic import QUERIES

# Import order is registry order, and so fixes ``list(QUERIES)``, which
# the bench's ABBA pass order and its reports follow: ``synthetic``,
# ``extensions``, ``analytics``, ``coverage``, then ``pipeline_ops``,
# ``pipeline_ops2``, ... by number.
_OPS = sorted(
    (m.name for m in pkgutil.iter_modules(__path__)
     if m.name.startswith("pipeline_ops")),
    key=lambda n: int(n.removeprefix("pipeline_ops") or 1),
)
for _name in ("extensions", "analytics", "coverage", *_OPS):
    importlib.import_module(f"{__name__}.{_name}")

__all__ = ["build_date_dim", "QUERIES"]
