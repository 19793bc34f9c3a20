from .asof import asof_join
from .graph import connected_components
from .joins import equi_join
from .skew import salted_join

__all__ = [
    "asof_join",
    "connected_components",
    "equi_join",
    "salted_join",
]
