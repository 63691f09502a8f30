from .clip import (  # noqa: F401
    clip_polyline_np,
    clip_ring_np,
    clip_rings_np,
    segment_clip_cols,
)
from .decode import decode_grids, decode_images, decode_tiles, read_tileset  # noqa: F401
from .simplify import (  # noqa: F401
    collapse_quantized,
    simplify_dp_np,
    simplify_ring_np,
)
from .events import asof_join, sessionize  # noqa: F401
from .graph import connected_components, dedup_components  # noqa: F401
from .gridding import grid_aggregate, grid_tiles  # noqa: F401
from .knn import knn_broadcast, knn_cell_ring  # noqa: F401
from .layout import (  # noqa: F401
    hilbert_d_py,
    with_hilbert_key,
    zorder_key,
)
from .merge import merge_tilesets  # noqa: F401
from .packing import distributed_cumsum, pack_sequences  # noqa: F401
from .pipeline import run_pipeline  # noqa: F401
from .redirects import resolve_redirects  # noqa: F401
from .resume import TileStore  # noqa: F401
from .retrieval import bm25_topk, build_postings  # noqa: F401
from .similarity import (  # noqa: F401
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    embedding_near_dups,
    ivf_assign,
    ivf_topk,
    ivf_train_centroids,
    pq_topk,
    pq_train_codebooks,
)
from .spatial_join import (  # noqa: F401
    polygon_covering,
    polygon_covering_df,
    spatial_join,
    spatial_join_distributed,
)
from .tiler import (  # noqa: F401
    FEATURE_SCHEMA,
    TILE_SCHEMA,
    LayerSpec,
    encode_point_tiles,
    encode_tiles,
    images_to_tiles,
    lines_to_features_dist,
    points_to_features,
    points_to_features_columnar,
    polygons_to_features_dist,
    s2json_tiles_to_ovt,
)
