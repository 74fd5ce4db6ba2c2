from .analytics import QUERIES
from .oracles import ORACLES
from . import coverage  # noqa: F401  (registers J1/J6/J7/J9/W2-W4/A3/A8/A9/P9/P12/O1 + multimodal)
from . import raster  # noqa: F401  (registers R1-R3 §2.8 projection math)
from . import training  # noqa: F401  (registers CDC merge / sampling / quantiles / tfidf / sketches)
from . import hygiene  # noqa: F401  (registers PII / repetition / contamination / passages / packing / sharding)
from . import webcorpus  # noqa: F401  (registers HTML extraction / URL canonicalization / mojibake repair)
from . import tokenizer  # noqa: F401  (registers BPE pair stats / merge learning / PMI collocations / holdout split)

__all__ = ["QUERIES", "ORACLES"]
