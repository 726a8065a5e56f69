"""Pluggable processing/persistence engine surface.

The reference selects its shredding engine per deployment by reflection
over (assembly, type) config — reference
Horus.Functions/Engines/EngineFactory.cs:9-26 with
IProcessingEngine.Process implementations HorusProcessingEngine
(Engines/Processing/HorusProcessingEngine.cs:13-90) and
SampleCustomerProcessingEngine (SampleCustomerProcessingEngine.cs:13-90).
Our equivalent is a plain strategy registry: an EngineSpec declares which
field channels the shredder extracts, and operators.shred parameterizes
its expression tree on the spec — same output schema for every engine
(absent channels emit their C# default values and no error rows), so
downstream sinks/queries are engine-agnostic.

Engine differences reproduced from the reference:
- horus: the full field set (HorusProcessingEngine.cs:28-37 header,
  49-85 lines).
- samplecustomer: NO ShippingTotal header read, NO DiscountPercent and NO
  Taxableindicator line reads (SampleCustomerProcessingEngine.cs:27-37
  header stops at GrandTotal/PostCode; 47-75 line loop reads only
  Drug/Qty/Net/Unit/Vat) — so ShippingTotal/DiscountPercent stay 0,
  Taxableindicator stays null, and none of the three contributes error
  rows (SampleCustomerConstants.cs:9-23 has no Shipping/Disc/Taxable
  keys).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineSpec:
    name: str
    include_shipping: bool = True
    include_discount: bool = True
    include_taxable: bool = True


HORUS_ENGINE = EngineSpec("horus")
SAMPLE_CUSTOMER_ENGINE = EngineSpec(
    "samplecustomer",
    include_shipping=False,
    include_discount=False,
    include_taxable=False,
)

ENGINES: dict[str, EngineSpec] = {
    "horus": HORUS_ENGINE,
    "samplecustomer": SAMPLE_CUSTOMER_ENGINE,
}


def get_engine(name: str | EngineSpec) -> EngineSpec:
    """EngineFactory.GetEngine analog — dict lookup instead of reflection;
    unknown names raise like the reference's 'Specified Engine does not
    exist' (EngineFactory.cs:22)."""
    if isinstance(name, EngineSpec):
        return name
    try:
        return ENGINES[name]
    except KeyError:
        raise ValueError(f"Specified Engine does not exist: {name!r}") from None
