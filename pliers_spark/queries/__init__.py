"""The query registry: ``QUERIES`` and ``ORACLES``, read by
``__spark_entry__.py`` and ``bench.py``.

Each domain module registers its queries through ``@query`` on import;
importing this package imports all of them. Helpers live in the module
that defines them and are imported from there.
"""
from ._registry import QUERIES, ORACLES
from . import core_parity
from . import temporal_core
from . import relational
from . import dedup_sim
from . import features_a
from . import features_b
from . import encoder_nlp
from . import audio_librosa
from . import curation_a
from . import curation_b
from . import stats_03
from . import stats_04
from . import stats_05
from . import stats_06
from . import stats_07
from . import stats_08
from . import stats_10
from . import stats_11
from . import stats_12
from . import stats_13
from . import stats_15
