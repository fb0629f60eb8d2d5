"""Engine configuration.

Replaces the reference's JSON-globals loader (``GetParameters``,
GenerateGeographicFeature.py:19-170 and CommonCode.py:44-78) with a typed
dataclass. Defaults mirror Parameters.json of the reference where a direct
analog exists.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class GridConfig:
    """Rectangular grid geometry (reference: tbd.area_to_params, vendored at
    Test/GeoFeatureGenerationClass.py:145-197; bounds Parameters.json:2-4)."""

    bounds: tuple[float, float, float, float] = (115.4, 39.4, 117.55, 41.1)
    accuracy_m: float = 1000.0

    @property
    def params(self) -> dict:
        import math

        lon1, lat1, lon2, lat2 = self.bounds
        # deltaLon/deltaLat formulas per Test/GeoFeatureGenerationClass.py:186-196
        delta_lon = self.accuracy_m * 360 / (
            2 * math.pi * 6371004 * math.cos((lat1 + lat2) * math.pi / 360)
        )
        delta_lat = self.accuracy_m * 360 / (2 * math.pi * 6371004)
        return {
            "slon": lon1,
            "slat": lat1,
            "deltalon": delta_lon,
            "deltalat": delta_lat,
            "theta": 0,
            "method": "rect",
            "gridsize": self.accuracy_m,
            "maxloncol": int((lon2 - lon1) / delta_lon),
            "maxlatcol": int((lat2 - lat1) / delta_lat),
        }


@dataclass(frozen=True)
class EngineConfig:
    """Knobs for the sequence feature pipeline."""

    # sessionization gap threshold in seconds (reference gActivityTime=1800,
    # Parameters.json:8 — stays shorter than this are dropped)
    activity_time_s: int = 1800
    # padded sequence length (reference gSequeneceLength=100,
    # DP_GenerateTrajectory.py:17)
    sequence_length: int = 100
    # max stay rows per (entity, month) matrix (reference gMaxRow=128,
    # Parameters.json:6)
    max_rows: int = 128
    # event-time step between sequence positions
    event_time_step_s: int = 60
    # salts per hot entity in the salted as-of
    n_salts: int = 16
    grid: GridConfig = field(default_factory=GridConfig)
