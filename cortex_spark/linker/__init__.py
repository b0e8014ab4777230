from cortex_spark.linker.lsh import add_lsh_bands
from cortex_spark.linker.rules import LinkerConfig, apply_link_rules
from cortex_spark.linker.pipeline import link_nodes

__all__ = [
    "add_lsh_bands",
    "LinkerConfig",
    "apply_link_rules",
    "link_nodes",
]
