"""OVT layer write/read (reference: src/open/vectorLayer.ts, src/base/vectorLayer.ts)."""

from __future__ import annotations

from dataclasses import dataclass, field as dfield
from typing import Optional

from .column_cache import ColumnCacheReader, ColumnCacheWriter, OColumn
from .feature import BaseFeature, OVFeature, read_feature, write_ov_feature
from .kernels import decode_extent, encode_extent
from .pbf import PbfReader, PbfWriter
from .shape import create_shape_from_data, decode_shape, encode_shape, update_shape_from_data


@dataclass
class BaseLayer:
    """Write-side layer IR (src/base/vectorLayer.ts:14-115)."""

    name: str = ""
    extent: int = 4096
    version: int = 1
    features: list = dfield(default_factory=list)
    shape: Optional[dict] = None
    mshape: Optional[dict] = None

    def __post_init__(self) -> None:
        self._shape_defined = self.shape is not None
        self._mshape_defined = self.mshape is not None
        if self.shape is None:
            self.shape = {}
        if self.mshape is None:
            self.mshape = {}

    def add_feature(self, feature: BaseFeature) -> None:
        """Append + infer shapes (src/base/vectorLayer.ts:51-61)."""
        self.features.append(feature)
        if not self._shape_defined:
            update_shape_from_data(self.shape, feature.properties)
        if not self._mshape_defined:
            mvals = feature.get_mvalues()
            if mvals is not None:
                for mv in mvals:
                    update_shape_from_data(self.mshape, mv)


def write_ov_layer(layer: BaseLayer, cache: ColumnCacheWriter) -> bytes:
    """Layer message body (src/open/vectorLayer.ts:128-143).

    Field order: 1=version, 2=name(str col idx), 3=extent enum, 5=shape idx,
    6=mShape idx (always written for base layers since mShape defaults to {}),
    then 4=feature bytes — features sorted stably by type first (O2, :140).
    """
    pbf = PbfWriter()
    pbf.write_varint_field(1, layer.version)
    pbf.write_varint_field(2, cache.add_column_data(OColumn.string, layer.name))
    pbf.write_varint_field(3, encode_extent(layer.extent))
    pbf.write_varint_field(5, encode_shape(cache, layer.shape))
    if layer.mshape is not None:
        pbf.write_varint_field(6, encode_shape(cache, layer.mshape))
    layer.features.sort(key=lambda f: f.ftype)  # stable, like JS Array.sort
    for feature in layer.features:
        pbf.write_bytes_field(4, write_ov_feature(feature, layer.shape, layer.mshape, cache))
    return pbf.commit()


class OVLayer:
    """Read-side layer with lazy feature decode (src/open/vectorLayer.ts:18-86)."""

    def __init__(self, pbf: PbfReader, end: int, cache: ColumnCacheReader) -> None:
        self.version = 1
        self.name = ""
        self.extent = 4096
        self._shape_index = -1
        self._mshape_index = -1
        self._shape: Optional[dict] = None
        self._mshape: Optional[dict] = None
        self._features_pos: list[int] = []
        self._features: dict[int, OVFeature] = {}
        self._pbf = pbf
        self._cache = cache

        def handler(fld: int, wt: int, reader: PbfReader) -> None:
            if fld == 1:
                self.version = reader.read_varint()
            elif fld == 2:
                self.name = cache.get_column(OColumn.string, reader.read_varint())
            elif fld == 3:
                self.extent = decode_extent(reader.read_varint())
            elif fld == 4:
                self._features_pos.append(reader.pos)
            elif fld == 5:
                self._shape_index = reader.read_varint()
            elif fld == 6:
                self._mshape_index = reader.read_varint()

        pbf.read_fields(handler, end)

    def __len__(self) -> int:
        return len(self._features_pos)

    @property
    def shape(self) -> dict:
        """The layer's property shape, decoded once and shared by every
        feature decode (treat as read-only)."""
        if self._shape is None:
            self._shape = decode_shape(self._shape_index, self._cache)
        return self._shape

    @property
    def mshape(self) -> Optional[dict]:
        if self._mshape_index == -1:
            return None
        if self._mshape is None:
            self._mshape = decode_shape(self._mshape_index, self._cache)
        return self._mshape

    def feature(self, i: int) -> OVFeature:
        if not 0 <= i < len(self._features_pos):
            raise IndexError("feature index out of bounds")
        cached = self._features.get(i)
        if cached is not None:
            return cached
        self._pbf.pos = self._features_pos[i]
        blob = self._pbf.read_bytes()
        feat = read_feature(blob, self.extent, self._cache, self.shape, self.mshape)
        self._features[i] = feat
        return feat

    def features(self) -> list[OVFeature]:
        return [self.feature(i) for i in range(len(self))]
